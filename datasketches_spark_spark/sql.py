"""Two-phase SQL front-end — ``dss.sql(spark, query)``.

The reference's SQL surface gets partial/final aggregation for free from
``TypedImperativeAggregate`` (``quantileSketches.scala:234-273``): a SQL
``GROUP BY`` builds per-executor partial sketches and ships only serialized
states across the exchange. A Python-UDF registry cannot express that —
Spark's ``AggregateInPandasExec`` has no partial mode, so
``spark.sql("SELECT approx_percentile_ex(v, p) ... GROUP BY k")`` shuffles
every *raw row* to the aggregating task. At 100 TB that is the difference
between shuffling kilobyte states and shuffling the column itself.

``dss.sql`` closes the gap for SQL-text users. It parses only the *clause
structure* of a single-block SELECT; every expression inside a clause is
handed to Catalyst verbatim, so pushdown, pruning and join planning behave
exactly like ``spark.sql``:

* ``FROM`` (joins, LATERAL VIEW, …), ``WHERE`` and any leading CTEs pass
  through as SQL — the base plan is ``spark.sql("<ctes> SELECT * FROM
  <from> WHERE <where>")`` and column pruning reaches the scan through it;
* select items that call an engine sketch aggregate are re-planned onto
  :func:`~datasketches_spark_spark.operators.sketch_agg.sketch_grouped_agg`
  (``mapInPandas`` partial sketches → state-only shuffle → merge →
  estimate);
* select items built from native aggregates (``count``/``sum``/… — or
  ``approx_count_distinct_hll``, which maps to Spark's JVM
  ``hll_sketch_agg`` and already aggregates partially) run as one JVM
  ``groupBy().agg()`` and re-join the sketched half null-safely on the
  group keys — the same split/join plan the flagship pricing-summary query
  builds by hand;
* CTE bodies and FROM-subqueries carrying sketch aggregates are rewritten
  to two-phase plans themselves and materialized as uniquely-named temp
  views for the rest of the query (dropped before returning — analysis
  inlines them); set-operation chains (``UNION [ALL|DISTINCT]`` /
  ``INTERSECT [ALL]`` / ``EXCEPT [ALL]`` / ``MINUS``) rewrite
  member-by-member with SQL precedence (INTERSECT binds tighter) and SQL
  semantics for a trailing ORDER BY/LIMIT;
* anything outside the supported shape falls back to ``spark.sql(query)``
  unchanged (the registered pandas-UDF path: correct, raw-row shuffle).

Eager validation (reference ``AnalysisException`` timing,
``quantileSketches.scala:176-194``): literal percentage / numSplits
arguments are validated inside ``dss.sql()`` itself, before any job runs,
with the failing function named in the error.

Direct-aggregate typing follows the reference (estimate cast back to the
input column type, ``quantileSketches.scala:196-211``), which the
registered-UDF fallback cannot do (a pandas UDF has one fixed return type).
"""

from __future__ import annotations

import re
import warnings
from functools import reduce
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import conf
from .families import _ACC_FAMILY, _family, _resolve_acc_family
from .functions.udfs import validate_num_splits, validate_percentage
from .operators.sketch_agg import (
    Measure,
    distinct_measure,
    freqitems_measure,
    percentile_measure,
    sketch_grouped_agg,
)


class _Unsupported(Exception):
    """Query shape outside dss.sql's rewrite grammar → spark.sql fallback."""


# ------------------------------------------------------------------ scanning

_QUOTES = "'\"`"


def _skip_quoted(q: str, i: int) -> int:
    """Return index just past the quoted span starting at ``q[i]``."""
    quote = q[i]
    j, n = i + 1, len(q)
    while j < n:
        c = q[j]
        if c == "\\" and quote != "`":
            j += 2
            continue
        if c == quote:
            if j + 1 < n and q[j + 1] == quote:  # doubled-quote escape
                j += 2
                continue
            return j + 1
        j += 1
    raise _Unsupported("unterminated quoted literal")


def _strip_comments(q: str) -> str:
    out, i, n = [], 0, len(q)
    while i < n:
        c = q[i]
        if c in _QUOTES:
            j = _skip_quoted(q, i)
            out.append(q[i:j])
            i = j
        elif q.startswith("--", i):
            j = q.find("\n", i)
            i = n if j < 0 else j
        elif q.startswith("/*", i):
            j = q.find("*/", i + 2)
            if j < 0:
                raise _Unsupported("unterminated block comment")
            out.append(" ")
            i = j + 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _top_level_positions(q: str):
    """Yield indices of characters at paren-depth 0, outside quotes."""
    i, depth, n = 0, 0, len(q)
    while i < n:
        c = q[i]
        if c in _QUOTES:
            i = _skip_quoted(q, i)
            continue
        if c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
            if depth < 0:
                raise _Unsupported("unbalanced parentheses")
        elif depth == 0:
            yield i
        i += 1


_CLAUSE_RES = [
    ("select", re.compile(r"SELECT\b", re.I)),
    ("from", re.compile(r"FROM\b", re.I)),
    ("where", re.compile(r"WHERE\b", re.I)),
    ("group", re.compile(r"GROUP\s+BY\b", re.I)),
    ("having", re.compile(r"HAVING\b", re.I)),
    ("order", re.compile(r"ORDER\s+BY\b", re.I)),
    ("limit", re.compile(r"LIMIT\b", re.I)),
]
_CLAUSE_ORDER = [name for name, _ in _CLAUSE_RES]

_REJECT_RE = re.compile(
    r"UNION\b|INTERSECT\b|EXCEPT\b|MINUS\b|SORT\s+BY\b|DISTRIBUTE\s+BY\b"
    r"|CLUSTER\s+BY\b|WINDOW\b|QUALIFY\b|PIVOT\b|UNPIVOT\b", re.I)

_WORD_RE = re.compile(r"[A-Za-z_0-9]")


def _at_word_boundary(q: str, i: int) -> bool:
    return i == 0 or not _WORD_RE.match(q[i - 1])


def _find_clauses(q: str) -> dict[str, str]:
    """Split the single-block query into clause bodies, or raise."""
    marks: list[tuple[int, int, str]] = []  # (start, body_start, name)
    for i in _top_level_positions(q):
        if not _at_word_boundary(q, i):
            continue
        if _REJECT_RE.match(q, i):
            raise _Unsupported(f"clause at {i} outside the rewrite grammar")
        for name, rx in _CLAUSE_RES:
            m = rx.match(q, i)
            if m:
                marks.append((i, m.end(), name))
                break
    if not marks or marks[0][2] != "select" or marks[0][0] != 0:
        raise _Unsupported("not a plain SELECT block")
    names = [m[2] for m in marks]
    if len(set(names)) != len(names):
        raise _Unsupported("repeated clause")
    if names != sorted(names, key=_CLAUSE_ORDER.index):
        raise _Unsupported("clauses out of canonical order")
    if "from" not in names:
        raise _Unsupported("missing FROM")
    clauses: dict[str, str] = {}
    for idx, (_, body_start, name) in enumerate(marks):
        end = marks[idx + 1][0] if idx + 1 < len(marks) else len(q)
        clauses[name] = q[body_start:end].strip()
    return clauses


def _split_top(text: str, sep: str = ",") -> list[str]:
    """Split on top-level separators (outside quotes/parens)."""
    cuts = [i for i in _top_level_positions(text) if text[i] == sep]
    parts, prev = [], 0
    for c in cuts:
        parts.append(text[prev:c])
        prev = c + 1
    parts.append(text[prev:])
    parts = [p.strip() for p in parts]
    if any(not p for p in parts):
        raise _Unsupported("empty list element")
    return parts


def _normalize(expr: str) -> str:
    """Canonical text for expression matching: lowercase outside quotes,
    whitespace collapsed, backticks stripped."""
    out, i, n = [], 0, len(expr)
    while i < n:
        c = expr[i]
        if c in _QUOTES:
            j = _skip_quoted(expr, i)
            piece = expr[i:j]
            out.append(piece.strip("`") if c == "`" else piece)
            i = j
        else:
            out.append(c.lower())
            i += 1
    return re.sub(r"\s+", " ", "".join(out)).strip()


_IDENT_RE = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _as_ident(expr: str) -> str | None:
    e = expr.strip().strip("`")
    return e if _IDENT_RE.match(e) else None


# ------------------------------------------------------------------- parsing

_AS_RE = re.compile(r"AS\b", re.I)


def _split_alias(item: str) -> tuple[str, str | None]:
    """Split ``expr AS alias`` on the rightmost top-level AS."""
    last = None
    for i in _top_level_positions(item):
        if _at_word_boundary(item, i) and _AS_RE.match(item, i):
            last = i
    if last is None:
        return item.strip(), None
    alias = item[last + 2:].strip().strip("`")
    if not _IDENT_RE.match(alias):
        raise _Unsupported(f"unsupported alias {alias!r}")
    return item[:last].strip(), alias


_CALL_RE = re.compile(r"^([A-Za-z_][A-Za-z0-9_]*)\s*\((.*)\)$", re.S)


def _parse_call(expr: str) -> tuple[str, str] | None:
    """``fn(args)`` with the parens enclosing the whole tail, else None."""
    m = _CALL_RE.match(expr.strip())
    if not m:
        return None
    args = m.group(2)
    # the match is only a call if the first '(' closes at the end
    depth = 0
    for ch in args:
        if ch in _QUOTES:
            return _parse_call_slow(expr)
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
            if depth < 0:
                return None
    if depth != 0:
        return None
    return m.group(1).lower(), args


def _parse_call_slow(expr: str) -> tuple[str, str] | None:
    expr = expr.strip()
    m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)\s*\(", expr)
    if not m or not expr.endswith(")"):
        return None
    inner = expr[m.end():-1]
    try:
        list(_top_level_positions(inner))
    except _Unsupported:
        return None
    return m.group(1).lower(), inner


_NUM_RE = re.compile(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$")


def _parse_literal_number(text: str) -> float:
    t = text.strip()
    if t.upper().endswith("D"):
        t = t[:-1]
    if not _NUM_RE.match(t):
        raise _Unsupported(f"non-literal argument {text!r}")
    return float(t)


def _parse_percentage_literal(text: str):
    """A literal double or ``array(...)`` of literal doubles."""
    call = _parse_call(text)
    if call and call[0] == "array":
        return [_parse_literal_number(a) for a in _split_top(call[1])]
    return _parse_literal_number(text)


# ------------------------------------------------------- sketch-agg registry

_QUANTILE_DIRECT = {
    "approx_percentile_ex": None,
    "approx_percentile_kll": "KLL",
    "approx_percentile_req": "REQ",
    "approx_percentile_mergeable": "MERGEABLE",
    "approx_percentile_ex_array": None,
    "approx_percentile_kll_array": "KLL",
    "approx_percentile_req_array": "REQ",
    "approx_percentile_mergeable_array": "MERGEABLE",
}
_FREQ_DIRECT = {"approx_freqitems": "string", "approx_freqitems_long": "long"}
_DISTINCT_DIRECT = ("approx_count_distinct_ex", "approx_count_distinct_cpc",
                    "approx_count_distinct_theta")

# *_combine functions: merge pre-serialized states (family-agnostic wire).
# Re-planned onto the "states" measure family — map-side partial merges,
# then a state-only shuffle (the GROUPED_AGG fallback ships every input
# state row to the aggregating task instead).
_COMBINE_FNS = {
    "approx_percentile_combine", "approx_freqitems_combine",
    "approx_count_distinct_combine", "approx_sample_combine",
    "approx_tuple_combine", "approx_membership_combine",
}

_SKETCH_FUNCS = (set(_QUANTILE_DIRECT) | set(_FREQ_DIRECT)
                 | set(_DISTINCT_DIRECT) | set(_ACC_FAMILY) | _COMBINE_FNS
                 | {"approx_count_distinct_hll"})

# *_estimate scalar functions that may wrap an accumulate/combine aggregate
# directly in a select item: estimate(accumulate(col)) IS the direct
# aggregate shape (partial sketches -> state shuffle -> merge -> decode), so
# dss.sql re-plans the nesting instead of warning it onto the raw-row path.
_ESTIMATE_FNS = {
    "approx_percentile_estimate", "approx_percentile_estimate_array",
    "approx_pmf_estimate", "approx_rank_estimate", "approx_cdf_estimate",
    "approx_freqitems_estimate", "approx_freqitems_estimate_long",
    "approx_count_distinct_estimate",
    "approx_sample_estimate", "approx_sample_estimate_long",
    "approx_sample_estimate_string",
    "approx_tuple_estimate", "approx_tuple_segment_estimate",
    "approx_membership_estimate", "approx_membership_fpp",
}

# native aggregates that may appear anywhere inside an exact select item
_EXACT_AGGS = {
    "count", "sum", "min", "max", "avg", "mean", "median", "mode", "first",
    "last", "any_value", "first_value", "last_value", "approx_count_distinct",
    "stddev", "stddev_pop", "stddev_samp", "variance", "var_pop", "var_samp",
    "skewness", "kurtosis", "corr", "covar_pop", "covar_samp", "collect_list",
    "collect_set", "array_agg", "percentile", "percentile_approx", "try_sum",
    "try_avg", "bit_and", "bit_or", "bit_xor", "bool_and", "bool_or", "every",
    "some", "count_if", "count_distinct", "sum_distinct", "grouping",
    "hll_sketch_agg", "hll_union_agg", "listagg", "string_agg",
}

_FUNC_NAME_RE = re.compile(r"([A-Za-z_][A-Za-z0-9_]*)\s*\(")

# constant select items (string/number/bool/null literals): projectable
# after aggregation without a matching group-by expression
_LITERAL_RE = re.compile(
    r"'(?:[^']|'')*'|[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?[dDlL]?"
    r"|TRUE|FALSE|NULL", re.I)


def _called_functions(expr: str) -> set[str]:
    """Function names invoked anywhere in the expression. Quoted literals are
    not excluded — a false positive only widens the match and at worst sends
    the query down the spark.sql fallback."""
    return {m.group(1).lower() for m in _FUNC_NAME_RE.finditer(expr)}


class _Item:
    """One select-list item, classified."""

    __slots__ = ("text", "alias", "out_name", "kind", "measure", "jvm_col",
                 "gk_index")

    def __init__(self, text: str, alias: str | None):
        self.text = text
        # ``alias`` is the *internal* working name (a generated __dss_{i}
        # sequence id when the user gave none — expression text makes a
        # terrible identifier: dots and parens break quoted resolution);
        # ``out_name`` is the user-visible output column name.
        self.alias = alias or text
        self.out_name = alias or text
        self.kind = ""          # "sketch" | "jvm" | "key"
        self.measure: Measure | None = None
        self.jvm_col = None     # Callable[[str], Column] given resolved col
        self.gk_index: int | None = None


def _classify_item(item: _Item, spark: SparkSession, seq: int) -> None:
    """Fill ``item.kind`` (sketch measure / JVM aggregate) or raise."""
    called = _called_functions(item.text)
    sketch_called = called & _SKETCH_FUNCS
    if not sketch_called:
        if called & _EXACT_AGGS:
            item.kind = "jvm"
            if item.alias == item.text:
                item.alias = f"__dss_{seq}"
            text = item.text
            item.jvm_col = lambda _=None: F.expr(text)
            return
        if _LITERAL_RE.fullmatch(item.text.strip()):
            item.kind = "const"  # rides along after aggregation
            return
        item.kind = "key"       # must match a group-by expr, checked later
        return

    call = _parse_call(item.text)
    if (call is not None and call[0] in _ESTIMATE_FNS
            and _classify_nested_estimate(item, call, spark, seq)):
        return
    if call is None or call[0] not in _SKETCH_FUNCS:
        raise _Unsupported(
            f"sketch aggregate nested in a larger expression: {item.text!r}")
    fname, args_text = call
    args = _split_top(args_text)
    if item.alias == item.text:
        item.alias = f"__dss_{seq}"
    name = item.alias

    if fname in _QUANTILE_DIRECT:
        if len(args) != 2:
            raise _Unsupported(f"{fname} expects (col, percentage)")
        pct = _parse_percentage_literal(args[1])
        try:
            validate_percentage(pct)
        except ValueError as e:
            raise ValueError(f"{fname}: {e}") from None
        item.kind = "sketch"
        item.measure = (args[0], lambda col: percentile_measure(
            name, col, pct, impl=_QUANTILE_DIRECT[fname], preserve_type=True))
        return
    if fname in _FREQ_DIRECT:
        if len(args) != 1:
            raise _Unsupported(f"{fname} expects (col)")
        item.kind = "sketch"
        item.measure = (args[0], lambda col: freqitems_measure(
            name, col, item_type=_FREQ_DIRECT[fname]))
        return
    if fname in _DISTINCT_DIRECT or fname == "approx_count_distinct_hll":
        if len(args) != 1:
            raise _Unsupported(f"{fname} expects (col)")
        impl = ("THETA" if fname == "approx_count_distinct_theta"
                else "HLL" if fname == "approx_count_distinct_hll"
                else "CPC" if fname == "approx_count_distinct_cpc"
                else conf.distinct_impl(spark))
        if impl == "HLL":
            # Spark's JVM hll_sketch_agg is a TypedImperativeAggregate —
            # partial/final physics for free; route it with the exact aggs.
            lgk = conf.distinct_hll_lgk(spark)
            item.kind = "jvm_col"
            item.jvm_col = lambda col: F.hll_sketch_estimate(
                F.hll_sketch_agg(F.expr(col), F.lit(lgk)))
            item.measure = (args[0], None)
            return
        item.kind = "sketch"
        if impl == "CPC":
            clgk = conf.distinct_cpc_lgk(spark)
            item.measure = (args[0], lambda col: distinct_measure(
                name, col, impl="hll", lgk=clgk))
        else:
            item.measure = (args[0], lambda col: distinct_measure(
                name, col, impl="theta"))
        return
    if fname in _ACC_FAMILY:
        family, params = _resolve_acc_family(fname, spark)
        want_args = _family(family, **params).ncols
        if len(args) != want_args:
            raise _Unsupported(
                f"{fname} expects {'(col, weight)' if want_args == 2 else '(col)'}")
        item.kind = "sketch"
        arg_cols = tuple(args) if want_args == 2 else args[0]
        item.measure = (arg_cols, lambda col: Measure(
            name, col, family, lambda c: c, **params))
        return
    if fname in _COMBINE_FNS:
        if len(args) != 1:
            raise _Unsupported(f"{fname} expects (state)")
        item.kind = "sketch"
        item.measure = (args[0], lambda col: Measure(
            name, col, "states", lambda c: c))
        return
    raise _Unsupported(f"unhandled sketch function {fname}")


def _nested_estimator(fname: str, extra: list[str]):
    """Column-builder for estimate function ``fname`` applied to a merged
    state, with SQL-literal extra args. Returns None when the arg shape is
    outside the rewrite (the caller falls through to the ordinary
    unsupported-nesting path). Invalid literals raise eagerly (ValueError),
    matching direct-aggregate validation timing."""
    from .functions import distinctcnt as _dc
    from .functions import freqitems as _fi
    from .functions import quantiles as _qt
    from .functions import sampling as _sp

    if fname in ("approx_percentile_estimate",
                 "approx_percentile_estimate_array"):
        if len(extra) != 1:
            return None
        pct = _parse_percentage_literal(extra[0])
        # the SQL surface splits scalar vs array by name (register.py):
        # mirror it, eagerly
        if fname.endswith("_array"):
            if not isinstance(pct, list):
                raise ValueError(
                    "approx_percentile_estimate_array: the percentage is a "
                    "scalar — use approx_percentile_estimate")
        elif isinstance(pct, list):
            raise ValueError(
                "approx_percentile_estimate: the percentage is an "
                "array — use approx_percentile_estimate_array")
        try:
            validate_percentage(pct)
        except ValueError as e:
            raise ValueError(f"{fname}: {e}") from None
        return lambda c: _qt.approx_percentile_estimate(c, pct)
    if fname == "approx_pmf_estimate":
        if len(extra) > 1:
            return None
        ns = int(_parse_literal_number(extra[0])) if extra else 9
        try:
            validate_num_splits(ns)
        except ValueError as e:
            raise ValueError(f"{fname}: {e}") from None
        return lambda c: _qt.approx_pmf_estimate(c, ns)
    if fname == "approx_rank_estimate":
        if len(extra) != 1:
            return None
        value = _parse_literal_number(extra[0])
        return lambda c: _qt.approx_rank_estimate(c, value)
    if fname == "approx_cdf_estimate":
        if len(extra) != 1:
            return None
        call = _parse_call(extra[0])
        if not call or call[0] != "array":
            return None
        pts = [_parse_literal_number(a) for a in _split_top(call[1])]
        return lambda c: _qt.approx_cdf_estimate(c, pts)
    if fname in ("approx_freqitems_estimate", "approx_freqitems_estimate_long"):
        if extra:
            return None
        it = "long" if fname.endswith("_long") else "string"
        return lambda c: _fi.approx_freqitems_estimate(c, item_type=it)
    if fname == "approx_count_distinct_estimate":
        if extra:
            return None
        return lambda c: _dc.approx_count_distinct_estimate(c)
    if fname in ("approx_sample_estimate", "approx_sample_estimate_long",
                 "approx_sample_estimate_string"):
        if extra:
            return None
        it = ("long" if fname.endswith("_long")
              else "string" if fname.endswith("_string") else "double")
        return lambda c: _sp.approx_sample_estimate(c, item_type=it)
    if fname == "approx_tuple_estimate":
        if extra:
            return None
        from .functions import tuplesketch as _tp
        return lambda c: _tp.approx_tuple_estimate(c)
    if fname == "approx_tuple_segment_estimate":
        if len(extra) > 1:
            return None
        mc = int(_parse_literal_number(extra[0])) if extra else 1
        from .functions import tuplesketch as _tp
        return lambda c: _tp.approx_tuple_segment_estimate(c, mc)
    if fname in ("approx_membership_estimate", "approx_membership_fpp"):
        if extra:
            return None
        from .functions import membership as _mb
        return (lambda c: _mb.approx_membership_estimate(c)) \
            if fname == "approx_membership_estimate" \
            else (lambda c: _mb.approx_membership_fpp(c))
    return None


def _classify_nested_estimate(item: "_Item", call: tuple[str, str],
                              spark: SparkSession, seq: int) -> bool:
    """Re-plan ``*_estimate(*_accumulate(col), lits...)`` /
    ``*_estimate(*_combine(state), lits...)`` select items onto the
    two-phase measure machinery: the nesting IS the direct-aggregate
    pattern (map-side partial sketches or partial state merges -> state-only
    shuffle -> merge -> scalar decode). Returns False for shapes outside
    the rewrite; the caller then raises the usual unsupported-nesting
    error and the query falls back (correct, raw-shuffle)."""
    fname, args_text = call
    args = _split_top(args_text)
    if not args:
        return False
    inner = _parse_call(args[0])
    if inner is None:
        return False
    ifn, iargs_text = inner
    if ifn in _COMBINE_FNS:
        iargs = _split_top(iargs_text)
        if len(iargs) != 1:
            return False
        family, params = "states", {}
        arg_cols = iargs[0]
    elif ifn in _ACC_FAMILY:
        family, params = _resolve_acc_family(ifn, spark)
        want = _family(family, **params).ncols
        iargs = _split_top(iargs_text)
        if len(iargs) != want:
            return False
        arg_cols = tuple(iargs) if want == 2 else iargs[0]
    else:
        return False
    est = _nested_estimator(fname, args[1:])
    if est is None:
        return False
    if item.alias == item.text:
        item.alias = f"__dss_{seq}"
    name = item.alias
    item.kind = "sketch"
    item.measure = (arg_cols, lambda col: Measure(
        name, col, family, est, **params))
    return True


# ----------------------------------------------------------------- execution

_ORDER_ITEM_RE = re.compile(
    r"^(?P<expr>.*?)(?:\s+(?P<dir>ASC|DESC))?(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?$",
    re.I | re.S)


def _order_col(item: str):
    m = _ORDER_ITEM_RE.match(item.strip())
    c = F.expr(m.group("expr"))
    desc = (m.group("dir") or "").upper() == "DESC"
    nulls = (m.group("nulls") or "").upper()
    if desc:
        return c.desc_nulls_first() if nulls == "FIRST" else c.desc()
    return c.asc_nulls_last() if nulls == "LAST" else c.asc()


def _match_paren(q: str, i: int) -> int:
    """``q[i]`` is '('; return the index just past its matching ')'."""
    depth, j, n = 0, i, len(q)
    while j < n:
        c = q[j]
        if c in _QUOTES:
            j = _skip_quoted(q, j)
            continue
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return j + 1
        j += 1
    raise _Unsupported("unbalanced parentheses")


_CTE_NAME_RE = re.compile(r"`([^`]+)`|[A-Za-z_][A-Za-z0-9_]*")


def _parse_with(q: str) -> tuple[list[tuple[str, str, list[str] | None]],
                                 str]:
    """Split ``WITH a AS (...), b(c1, c2) AS (...) <rest>`` into CTE
    (name, body, column_list_or_None) triples plus the remainder.
    No WITH -> ([], q)."""
    m = re.match(r"WITH\b", q, re.I)
    if not m:
        return [], q
    if re.match(r"WITH\s+RECURSIVE\b", q, re.I):
        raise _Unsupported("recursive CTE")
    i, n, ctes = m.end(), len(q), []
    while True:
        while i < n and q[i].isspace():
            i += 1
        mm = _CTE_NAME_RE.match(q, i)
        if not mm:
            raise _Unsupported("malformed CTE name")
        name = mm.group(1) or mm.group(0)
        i = mm.end()
        while i < n and q[i].isspace():
            i += 1
        cols = None
        if i < n and q[i] == "(":
            j = _match_paren(q, i)
            cols = [c.strip().strip("`")
                    for c in _split_top(q[i + 1:j - 1])]
            if not all(_IDENT_RE.match(c) for c in cols):
                raise _Unsupported("malformed CTE column list")
            i = j
            while i < n and q[i].isspace():
                i += 1
        ma = re.match(r"AS\b", q[i:], re.I)
        if not ma:
            raise _Unsupported("CTE missing AS")
        i += ma.end()
        while i < n and q[i].isspace():
            i += 1
        if i >= n or q[i] != "(":
            raise _Unsupported("CTE body must be parenthesized")
        j = _match_paren(q, i)
        ctes.append((name, q[i + 1:j - 1].strip(), cols))
        i = j
        while i < n and q[i].isspace():
            i += 1
        if i < n and q[i] == ",":
            i += 1
            continue
        return ctes, q[i:]


def _with_prefix(plain: list[tuple[str, str]]) -> str:
    if not plain:
        return ""
    return "WITH " + ", ".join(f"{n} AS ({b})" for n, b in plain) + " "


_FROM_JOIN_RE = re.compile(r"(?:FROM|JOIN)\b", re.I)
_REF_IDENT_RE = re.compile(r"\s+(`([^`]+)`|[A-Za-z_][A-Za-z0-9_]*)")
# words that may follow a relation name and are NOT a user alias
_NOT_ALIAS = {
    "where", "group", "order", "limit", "having", "on", "join", "left",
    "right", "full", "inner", "cross", "natural", "union", "intersect",
    "except", "minus", "using", "lateral", "window", "qualify",
}
_NEXT_WORD_RE = re.compile(r"\s*(AS\b|[A-Za-z_][A-Za-z0-9_]*)", re.I)


def _sub_cte_refs(text: str, subs: dict[str, str]) -> str:
    """Replace ``FROM <cte>`` / ``JOIN <cte>`` references with the
    materialized temp-view name, preserving the original name as the
    relation alias (``FROM v AS cte``) so qualified column references keep
    resolving. Applies at every nesting depth; shapes it cannot rewrite
    (comma joins, an explicit alias after the name) are left alone — the
    resulting analysis error sends the query down the spark.sql fallback,
    which is correct, just raw-shuffle."""
    if not subs:
        return text
    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c in _QUOTES:
            j = _skip_quoted(text, i)
            out.append(text[i:j])
            i = j
            continue
        m = (_FROM_JOIN_RE.match(text, i)
             if _at_word_boundary(text, i) else None)
        if m:
            out.append(text[i:m.end()])
            i = m.end()
            mi = _REF_IDENT_RE.match(text, i)
            if mi:
                word = mi.group(2) or mi.group(1)
                rep = subs.get(word.lower())
                if rep and text[mi.end():mi.end() + 1] != ".":
                    # when the user supplied their own alias ("FROM s x" /
                    # "FROM s AS x"), keep it and emit only the view name;
                    # otherwise alias the view back to the CTE name so
                    # qualified references keep resolving
                    nx = _NEXT_WORD_RE.match(text, mi.end())
                    has_alias = bool(nx) and (
                        nx.group(1).upper() == "AS"
                        or nx.group(1).lower() not in _NOT_ALIAS)
                    out.append(f" {rep}" if has_alias
                               else f" {rep} AS {word}")
                    i = mi.end()
            continue
        out.append(c)
        i += 1
    return "".join(out)


_SETOP_RE = re.compile(
    r"(UNION\s+ALL|UNION\s+DISTINCT|UNION|INTERSECT\s+ALL|INTERSECT"
    r"|EXCEPT\s+ALL|EXCEPT|MINUS)\b", re.I)
_ORDER_BY_RE = re.compile(r"ORDER\s+BY\b", re.I)
_LIMIT_RE = re.compile(r"LIMIT\b", re.I)


def _split_setops(q: str) -> list[str]:
    """Tokenize a set-operation chain: [block, OP, block, OP, block...].
    OP tokens are canonicalized uppercase ('UNION ALL', 'INTERSECT', ...).
    A single-element list means no top-level set operation."""
    cuts = []
    for i in _top_level_positions(q):
        if _at_word_boundary(q, i):
            m = _SETOP_RE.match(q, i)
            if m:
                cuts.append((i, m.end(),
                             re.sub(r"\s+", " ", m.group(1).upper())))
    toks, prev = [], 0
    for s, e, op in cuts:
        toks.append(q[prev:s].strip())
        toks.append("EXCEPT" if op == "MINUS" else op)
        prev = e
    toks.append(q[prev:].strip())
    if any(not t for t in toks[::2]):
        raise _Unsupported("empty set-operation member")
    return toks


def _cut_trailing_order_limit(text: str):
    """Detach a trailing top-level ORDER BY / LIMIT (they bind to the whole
    UNION in SQL, not to the last member)."""
    order_at = limit_at = None
    for i in _top_level_positions(text):
        if not _at_word_boundary(text, i):
            continue
        m = _ORDER_BY_RE.match(text, i)
        if m and order_at is None:
            order_at = (i, m.end())
        m = _LIMIT_RE.match(text, i)
        if m and limit_at is None:
            limit_at = (i, m.end())
    if order_at and limit_at and limit_at[0] < order_at[0]:
        raise _Unsupported("LIMIT before ORDER BY")
    if order_at:
        body = text[:order_at[0]]
        if limit_at:
            order = text[order_at[1]:limit_at[0]]
            limit = text[limit_at[1]:]
        else:
            order, limit = text[order_at[1]:], None
    elif limit_at:
        body, order, limit = text[:limit_at[0]], None, text[limit_at[1]:]
    else:
        return text.strip(), None, None
    return body.strip(), order and order.strip(), limit and limit.strip()


def _has_sketch(text: str) -> bool:
    return bool(_called_functions(text) & _SKETCH_FUNCS)


_SETOP_APPLY = {
    "UNION ALL": lambda a, b: a.union(b),
    "UNION": lambda a, b: a.union(b).distinct(),
    "UNION DISTINCT": lambda a, b: a.union(b).distinct(),
    "INTERSECT": lambda a, b: a.intersect(b),
    "INTERSECT ALL": lambda a, b: a.intersectAll(b),
    "EXCEPT": lambda a, b: a.subtract(b),   # SQL EXCEPT = distinct form
    "EXCEPT ALL": lambda a, b: a.exceptAll(b),
}


def _rewrite_union(spark: SparkSession, prefix: str, body: str) -> DataFrame:
    """Rewrite ``body`` — one SELECT block, or a set-operation chain
    (UNION [ALL|DISTINCT] / INTERSECT [ALL] / EXCEPT [ALL] / MINUS).
    Each sketch-bearing member gets the two-phase plan; plain members run
    through spark.sql; combination is positional (names from the first
    member) with SQL precedence: INTERSECT binds tighter, the rest fold
    left-associatively."""
    toks = _split_setops(body)
    if len(toks) == 1:
        return _rewrite_block(spark, prefix + toks[0])
    parts = toks[::2]
    parts[-1], order_text, limit_text = _cut_trailing_order_limit(parts[-1])
    for p in parts[:-1]:
        _, o, li = _cut_trailing_order_limit(p)
        if o or li:
            raise _Unsupported(
                "ORDER BY/LIMIT on a non-final set-operation member")
    dfs = [(_rewrite_block(spark, prefix + p) if _has_sketch(p)
            else spark.sql(prefix + p)) for p in parts]
    ncols = len(dfs[0].columns)
    if any(len(d.columns) != ncols for d in dfs[1:]):
        raise _Unsupported(
            "set-operation members have different column counts")
    ops = toks[1::2]
    # SQL precedence: reduce INTERSECT [ALL] runs first, then fold the
    # remaining UNION/EXCEPT chain left-associatively
    vals, rest_ops = [dfs[0]], []
    for op, d in zip(ops, dfs[1:]):
        if op.startswith("INTERSECT"):
            vals[-1] = _SETOP_APPLY[op](vals[-1], d)
        else:
            rest_ops.append(op)
            vals.append(d)
    out = vals[0]
    for op, d in zip(rest_ops, vals[1:]):
        out = _SETOP_APPLY[op](out, d)
    if order_text:
        order_items = []
        for t in _split_top(order_text):
            m = _ORDER_ITEM_RE.match(t.strip())
            head = m.group("expr").strip()
            if re.fullmatch(r"\d+", head):
                pos = int(head) - 1
                if not (0 <= pos < ncols):
                    raise _Unsupported("ORDER BY position out of range")
                t = f"`{out.columns[pos]}`{t.strip()[len(head):]}"
            order_items.append(_order_col(t))
        out = out.orderBy(*order_items)
    if limit_text:
        if not re.fullmatch(r"\d+", limit_text.strip()):
            raise _Unsupported("non-literal LIMIT")
        out = out.limit(int(limit_text))
    return out


def _materialize(spark: SparkSession, prefix: str, body: str,
                 tag: str, views: list[str],
                 cols: list[str] | None = None) -> str:
    """Rewrite ``body`` to a two-phase plan and register it as a
    uniquely-named temp view; returns the view name (recorded in
    ``views`` for cleanup). ``cols`` renames the output columns (the CTE
    column-list form)."""
    import uuid
    df = _rewrite_union(spark, prefix, body)
    if cols is not None:
        if len(cols) != len(df.columns):
            # Hard error, not a fallback: a sketch-bearing CTE that left
            # the rewrite here would silently run its aggregates as
            # raw-row UDF shuffles at 100x scale. ValueError propagates
            # through sql()'s except chain by design.
            raise ValueError(
                f"dss.sql: CTE column list has {len(cols)} names "
                f"({', '.join(cols)}) but its body produces "
                f"{len(df.columns)} columns ({', '.join(df.columns)}). "
                "Make the arities match — alias each select item in the "
                "CTE body (or drop the column list) so the two-phase "
                "sketch plan is preserved.")
        df = df.toDF(*cols)
    vname = f"__dss_cte_{tag}_{uuid.uuid4().hex[:8]}"
    df.createOrReplaceTempView(vname)
    views.append(vname)
    return vname


def _extract_sketch_subqueries(spark: SparkSession, prefix: str, text: str,
                               views: list[str]) -> str:
    """Replace parenthesized ``(SELECT ... <sketch agg> ...)`` subqueries
    (FROM-subqueries being the common shape) with materialized two-phase
    temp views, at any nesting depth. A span that fails its own rewrite is
    left untouched — the scan then descends into it, so a deeper sketch
    subquery still extracts, and anything genuinely unsupported surfaces
    through the ordinary fallback."""
    def in_relation_position(upto: int) -> bool:
        """True when the '(' sits where a relation may appear: right
        after FROM or JOIN (a scalar/IN subquery in an expression must
        NOT be replaced by a relation name)."""
        m = re.search(r"([A-Za-z_][A-Za-z0-9_]*)\s*$", text[:upto])
        return bool(m) and m.group(1).upper() in ("FROM", "JOIN")

    out, i, n = [], 0, len(text)
    while i < n:
        c = text[i]
        if c in _QUOTES:
            j = _skip_quoted(text, i)
            out.append(text[i:j])
            i = j
            continue
        if c == "(":
            try:
                j = _match_paren(text, i)
            except _Unsupported:
                out.append(c)
                i += 1
                continue
            inner = text[i + 1:j - 1].strip()
            if (re.match(r"SELECT\b", inner, re.I) and _has_sketch(inner)
                    and in_relation_position(i)):
                try:
                    vname = _materialize(spark, prefix, inner, "sub", views)
                except ValueError:
                    raise       # eager literal validation stays eager
                except (_Unsupported, Exception):
                    # unsupported shape, or a correlated subquery whose
                    # outer references cannot resolve in isolation —
                    # descend: deeper subqueries may still extract
                    out.append(c)
                    i += 1
                    continue
                out.append(vname)
                i = j
                continue
            out.append(c)           # not a sketch subquery: descend
            i += 1
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _rewrite(spark: SparkSession, query: str) -> DataFrame:
    """Full rewrite pipeline: CTE bodies and FROM-subqueries carrying
    sketch aggregates are rewritten to two-phase plans and materialized as
    uniquely-named temp views (dropped again before returning — analysis
    inlines them); plain CTEs stay SQL text; the remainder (a SELECT block
    or a UNION ALL chain) is rewritten per member."""
    q = _strip_comments(query).strip().rstrip(";").strip()
    ctes, rest = _parse_with(q)
    plain: list[tuple[str, str]] = []
    subs: dict[str, str] = {}
    views: list[str] = []
    try:
        for name, body, cols in ctes:
            body = _sub_cte_refs(body, subs)
            body = _extract_sketch_subqueries(
                spark, _with_prefix(plain), body, views)
            if _has_sketch(body):
                subs[name.lower()] = _materialize(
                    spark, _with_prefix(plain), body, name, views, cols)
            else:
                plain.append((name if cols is None
                              else f"{name}({', '.join(cols)})", body))
        rest = _sub_cte_refs(rest, subs)
        prefix = _with_prefix(plain)
        rest = _extract_sketch_subqueries(spark, prefix, rest, views)
        if _has_sketch(rest):
            result = _rewrite_union(spark, prefix, rest)
        elif views:
            # the sketch work lives entirely inside CTEs/subqueries; the
            # remainder is ordinary SQL over their materialized views
            result = spark.sql(prefix + rest)
        else:
            raise _Unsupported("no engine sketch aggregate in select list")
        result.schema  # force analysis while the temp views still exist
        return result
    finally:
        for v in views:
            try:
                spark.catalog.dropTempView(v)
            except Exception:
                pass


def _rewrite_block(spark: SparkSession, query: str) -> DataFrame:
    q = _strip_comments(query).strip().rstrip(";").strip()

    cte_prefix = ""
    if re.match(r"WITH\b", q, re.I):
        starts = [i for i in _top_level_positions(q)
                  if _at_word_boundary(q, i) and re.match(r"SELECT\b", q[i:], re.I)]
        if not starts:
            raise _Unsupported("WITH without top-level SELECT")
        cte_prefix, q = q[:starts[0]], q[starts[0]:]

    clauses = _find_clauses(q)
    select_body = clauses["select"]
    if re.match(r"(DISTINCT|ALL)\b", select_body, re.I):
        raise _Unsupported("SELECT DISTINCT/ALL")

    items = [_Item(*_split_alias(t)) for t in _split_top(select_body)]
    for i, it in enumerate(items):
        _classify_item(it, spark, i)
    if not any(it.kind in ("sketch", "jvm_col") for it in items):
        raise _Unsupported("no engine sketch aggregate in select list")

    # ---- base plan: FROM/WHERE (and CTEs) go to Catalyst verbatim
    base_sql = f"{cte_prefix}SELECT * FROM {clauses['from']}"
    if clauses.get("where"):
        base_sql += f" WHERE {clauses['where']}"
    base = spark.sql(base_sql)

    # ---- group keys: derive non-identifier exprs as hidden columns
    group_texts = _split_top(clauses["group"]) if clauses.get("group") else []
    if any(re.fullmatch(r"ALL|CUBE.*|ROLLUP.*|GROUPING\s+SETS.*", g,
                        re.I | re.S) for g in group_texts):
        raise _Unsupported("non-plain grouping")
    resolved_groups: list[str] = []   # column names to group by
    norm_groups: list[str] = []
    for gi, g in enumerate(group_texts):
        if re.fullmatch(r"\d+", g):   # positional: GROUP BY 1
            pos = int(g) - 1
            if not (0 <= pos < len(items)):
                raise _Unsupported("GROUP BY position out of range")
            g = items[pos].text
        ident = _as_ident(g)
        if ident is None:
            cname = f"__gk{gi}"
            base = base.withColumn(cname, F.expr(g))
        else:
            cname = ident
        resolved_groups.append(cname)
        norm_groups.append(_normalize(g))

    # ---- key passthrough items must match a group-by expression
    for it in items:
        if it.kind == "key":
            nt = _normalize(it.text)
            if nt not in norm_groups:
                raise _Unsupported(
                    f"select item {it.text!r} is neither an aggregate nor a "
                    "group-by expression")
            it.gk_index = norm_groups.index(nt)

    # ---- sketch measure columns: derive expression inputs
    measures: list[Measure] = []
    for mi, it in enumerate(items):
        if it.kind not in ("sketch", "jvm_col"):
            continue
        colexpr = it.measure[0]
        exprs = colexpr if isinstance(colexpr, tuple) else (colexpr,)
        names = []
        for ei, ce in enumerate(exprs):
            ident = _as_ident(ce)
            if ident is None:
                cn = f"__m{mi}_{ei}" if len(exprs) > 1 else f"__m{mi}"
                base = base.withColumn(cn, F.expr(ce))
            else:
                cn = ident
            names.append(cn)
        cname = tuple(names) if len(names) > 1 else names[0]
        if it.kind == "sketch":
            measures.append(it.measure[1](cname))
        else:
            it.jvm_col = (lambda f, c: (lambda: f(c)))(it.jvm_col, cname)

    jvm_items = [it for it in items if it.kind in ("jvm", "jvm_col")]

    # ---- two-phase sketched half + JVM exact half, joined on the keys
    sketched = (sketch_grouped_agg(base, resolved_groups, *measures)
                if measures else None)
    exact = None
    if jvm_items:
        aggs = [it.jvm_col().alias(it.alias) for it in jvm_items]
        exact = (base.groupBy(*resolved_groups).agg(*aggs)
                 if resolved_groups else base.agg(*aggs))

    if sketched is not None and exact is not None:
        if resolved_groups:
            cond = reduce(lambda a, b: a & b,
                          [sketched[k].eqNullSafe(exact[k])
                           for k in resolved_groups])
            joined = sketched.join(exact, cond)
        else:
            joined = sketched.crossJoin(exact)
        left = sketched
    else:
        joined = sketched if sketched is not None else exact
        left = joined

    def _final_name(it: _Item) -> str:
        if it.kind == "key" and it.out_name == it.text:
            return _as_ident(it.text) or it.out_name
        return it.out_name

    out_cols = []
    for it in items:
        if it.kind == "const":
            out_cols.append(F.expr(it.text).alias(it.out_name))
        elif it.kind == "key":
            out_cols.append(
                left[resolved_groups[it.gk_index]].alias(_final_name(it)))
        elif it.kind == "sketch":
            out_cols.append(left[it.alias].alias(it.out_name))
        else:
            src = exact if exact is not None else left
            out_cols.append(src[it.alias].alias(it.out_name))
    result = joined.select(*out_cols)

    # HAVING / ORDER BY may reference an aggregate by its expression text
    # (``HAVING count(*) > 5``); post-projection only the aliases exist, so
    # substitute each select item's normalized text with its alias.
    subs = sorted(((_normalize(it.text), it.out_name) for it in items
                   if it.kind != "key"
                   and _normalize(it.text) != it.out_name),
                  key=lambda p: -len(p[0]))

    def _aliased(expr: str) -> str:
        e = _normalize(expr)
        for text, alias in subs:
            e = e.replace(text, f"`{alias}`")
        return e

    if clauses.get("having"):
        result = result.filter(F.expr(_aliased(clauses["having"])))
    if clauses.get("order"):
        # ordinal ORDER BY ("ORDER BY 1"): spark.sql resolves it
        # positionally (spark.sql.orderByOrdinal defaults true); a bare
        # F.expr("1") would be a constant sort key, silently dropping the
        # order — substitute the select item's alias, like GROUP BY above.
        order_items = []
        for t in _split_top(clauses["order"]):
            m = _ORDER_ITEM_RE.match(t.strip())
            head = m.group("expr").strip()
            if re.fullmatch(r"\d+", head):
                pos = int(head) - 1
                if not (0 <= pos < len(items)):
                    raise _Unsupported("ORDER BY position out of range")
                tail = t.strip()[len(head):]
                t = f"`{_final_name(items[pos])}`{tail}"
                order_items.append(_order_col(t))
            else:
                order_items.append(_order_col(_aliased(t)))
        result = result.orderBy(*order_items)
    if clauses.get("limit"):
        if not re.fullmatch(r"\d+", clauses["limit"].strip()):
            raise _Unsupported("non-literal LIMIT")
        result = result.limit(int(clauses["limit"]))

    result.schema  # force analysis now: unsupported references → fallback
    return result


def sql(spark: SparkSession, query: str) -> DataFrame:
    """Run ``query``; engine direct aggregates get two-phase physics.

    Drop-in for ``spark.sql`` on SELECT queries built from single blocks,
    ``UNION ALL`` chains of blocks, and CTEs (including CTE bodies that
    carry sketch aggregates). Queries outside the rewrite grammar run
    through ``spark.sql`` unchanged (requires ``dss.install(spark)`` for
    the engine's function names). Invalid literal arguments (percentage
    out of [0,1], bad numSplits) raise eagerly here, before any Spark job
    starts.
    """
    try:
        return _rewrite(spark, query)
    except _Unsupported as e:
        _warn_fallback(query, str(e))
        return spark.sql(query)
    except ValueError:
        raise
    except Exception as e:
        # analysis failed under the rewrite (e.g. HAVING over a non-selected
        # aggregate) — let Spark's own path produce the answer or the error
        _warn_fallback(query, f"rewrite analysis failed: {e}")
        return spark.sql(query)


def _warn_fallback(query: str, reason: str) -> None:
    """A query carrying engine sketch aggregates that leaves the rewrite
    grammar silently loses two-phase physics (raw rows shuffle to the
    aggregating tasks — the registered-UDF path). Surface that: warn with
    the unsupported clause named, so SQL users learn they left the scale
    path. Queries without sketch aggregates lose nothing — no warning."""
    try:
        called = _called_functions(_strip_comments(query))
    except _Unsupported:
        called = _called_functions(query)
    if not (called & _SKETCH_FUNCS):
        return
    warnings.warn(
        f"dss.sql: query falls back to spark.sql ({reason}); its sketch "
        "aggregates will run as registered UDFs, shuffling raw rows "
        "instead of partial sketch states. Keep each sketch aggregate a "
        "direct select item of a SELECT block (CTE bodies, "
        "FROM-subqueries and set-operation members all qualify) to keep "
        "the two-phase plan.",
        SketchSqlFallbackWarning, stacklevel=3)


class SketchSqlFallbackWarning(UserWarning):
    """Raised (as a warning) when a sketch-bearing query leaves dss.sql's
    two-phase rewrite grammar and runs on the raw-shuffle fallback."""


__all__ = ["sql", "SketchSqlFallbackWarning"]
