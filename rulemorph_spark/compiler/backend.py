"""Expression backends: one generic builder, several renderings.

Op semantics are written ONCE against this backend protocol — the
date parse chain (``ops_date.py``), the string, round, to_base and
arithmetic kernels and their variant bodies (``ops_bodies.py``) — and
rendered as

- ``ColB`` — the hand-built Column tree (used inside Catalyst lambda
  scopes, where SQL-function call arguments cannot reference the free
  lambda variable, and wherever the SQL path declines);
- ``InlineColB`` — ``ColB`` with substituting lets: a lambda-free
  tree for the typed engine (``typed.py``, whose error sites are its
  own ``_terr``) and the typed-column library (``functions/scalar``);
- ``SqlB`` — SQL text registered per signature as a session SQL
  function (``sqlfn.py``): the analyzer binds each ARGUMENT once via
  an injected Project and the optimizer inlines the body, so a call
  site costs O(1) Python-side constructions while executing like the
  hand-built tree.  ``let`` expands TEXTUALLY (string duplication is
  free, whole-stage codegen's subexpression elimination dedupes the
  copies at runtime) which keeps the body lambda-free — lambda-free
  projections stay INSIDE whole-stage codegen.

One builder per op means the renderings cannot drift.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .core import rerr


class ColB:
    """Column-expression backend."""

    is_sql = False

    def lit(self, v):
        return F.lit(v)

    def null(self, t):
        return F.lit(None).cast(t)

    def fn(self, name, *xs):
        return F.call_function(name, *xs)

    def cast(self, x, t):
        return x.cast(t)

    def try_cast(self, x, t):
        return x.try_cast(t)

    def rlike(self, x, pat):
        return x.rlike(pat)

    def case(self, pairs, else_):
        c = F.when(pairs[0][0], pairs[0][1])
        for cond, val in pairs[1:]:
            c = c.when(cond, val)
        return c.otherwise(else_)

    def eq(self, a, b):
        return a == b

    def ne(self, a, b):
        return a != b

    def lt(self, a, b):
        return a < b

    def le(self, a, b):
        return a <= b

    def gt(self, a, b):
        return a > b

    def ge(self, a, b):
        return a >= b

    def and_(self, a, b):
        return a & b

    def or_(self, a, b):
        return a | b

    def not_(self, a):
        return ~a

    def isnull(self, x):
        return x.isNull()

    def isnotnull(self, x):
        return x.isNotNull()

    def isin(self, x, *vals):
        return x.isin(*vals)

    def op(self, sym, a, b):
        if sym == "+":
            return a + b
        if sym == "-":
            return a - b
        if sym == "*":
            return a * b
        if sym == "/":
            return a / b
        if sym == "%":
            return a % b
        raise ValueError(sym)  # pragma: no cover

    def err(self, kind, msg, path, t):
        return rerr(kind, msg, path).cast(t)

    def err_raw(self, encoded_parts, t):
        """raise with a pre-assembled message from (lit-or-expr) parts."""
        return F.raise_error(F.concat(*encoded_parts)).cast(t)

    def slot(self, value, t="STRING"):
        """A per-call-site constant (see SqlB.slot) — plain literal."""
        if value is None:
            return F.lit(None).cast(t)
        return F.lit(value)

    def let(self, x, fn):
        from . import variant as V
        return V.let(x, fn)

    def let_many(self, xs, fn):
        from . import variant as V
        return V.let_many(xs, fn)

    def struct(self, **kw):
        return F.struct(*[v.alias(k) for k, v in kw.items()])

    def field(self, x, name):
        return x[name]

    def ts_add_seconds(self, n, ts):
        return F.timestamp_add("SECOND", n, ts)

    def concat(self, *xs):
        return F.concat(*xs)


class InlineColB(ColB):
    """``ColB`` whose lets substitute the bound expression: the tree
    stays lambda-free, so a typed projection stays inside whole-stage
    codegen (a transform lambda is CodegenFallback)."""

    def let(self, x, fn):
        return fn(x)

    def let_many(self, xs, fn):
        return fn(*xs)


class SqlB:
    """SQL-text backend: handles are SQL expression strings.

    ``lenient`` renders error sites as typed NULLs (the when-condition
    compile mode, ``core.lenient_errors``)."""

    is_sql = True

    def __init__(self, lenient: bool):
        self.lenient = lenient
        # call-site constants hoisted to function PARAMETERS so that
        # bodies differing only in error paths / timezone offsets /
        # unit flags hash identical and the session function is SHARED
        # (without this every fuzzed pipe registered fresh functions —
        # unbounded catalog growth and per-compile CREATE cost)
        self.slots: list[tuple[object, str]] = []   # (value, sqltype)
        self._slot_ix: dict = {}

    def slot(self, value, t="STRING"):
        key = (value, t)
        name = self._slot_ix.get(key)
        if name is None:
            name = f"e{len(self.slots)}"
            self.slots.append((value, t))
            self._slot_ix[key] = name
        return name

    def slot_params(self) -> str:
        """Parameter-list suffix for the collected slots."""
        return ", ".join(f"e{i} {t}" for i, (_, t) in enumerate(self.slots))

    def slot_args(self):
        """Call-site Columns for the collected slots (order-matched)."""
        return [F.lit(None).cast(t) if v is None else F.lit(v)
                for v, t in self.slots]

    def lit(self, v):
        from . import sqlfn
        if isinstance(v, str):
            return sqlfn.quote(v)
        if isinstance(v, bool):
            return "true" if v else "false"
        if isinstance(v, float):
            # Double.parseDouble accepts 'Infinity'/'NaN', never 'inf'
            if v != v:
                return "CAST('NaN' AS DOUBLE)"
            if v == float("inf"):
                return "CAST('Infinity' AS DOUBLE)"
            if v == float("-inf"):
                return "CAST('-Infinity' AS DOUBLE)"
            return f"CAST({v!r} AS DOUBLE)"
        return repr(v)

    def null(self, t):
        return f"CAST(NULL AS {t})"

    def fn(self, name, *xs):
        return f"{name}(" + ", ".join(xs) + ")"

    def cast(self, x, t):
        return f"CAST({x} AS {t})"

    def try_cast(self, x, t):
        return f"TRY_CAST({x} AS {t})"

    def rlike(self, x, pat):
        from . import sqlfn
        return f"({x} RLIKE {sqlfn.quote(pat)})"

    def case(self, pairs, else_):
        whens = " ".join(f"WHEN {c} THEN {v}" for c, v in pairs)
        return f"(CASE {whens} ELSE {else_} END)"

    def eq(self, a, b):
        return f"({a} = {b})"

    def ne(self, a, b):
        return f"({a} != {b})"

    def lt(self, a, b):
        return f"({a} < {b})"

    def le(self, a, b):
        return f"({a} <= {b})"

    def gt(self, a, b):
        return f"({a} > {b})"

    def ge(self, a, b):
        return f"({a} >= {b})"

    def and_(self, a, b):
        return f"({a} AND {b})"

    def or_(self, a, b):
        return f"({a} OR {b})"

    def not_(self, a):
        return f"(NOT {a})"

    def isnull(self, x):
        return f"({x} IS NULL)"

    def isnotnull(self, x):
        return f"({x} IS NOT NULL)"

    def isin(self, x, *vals):
        return f"({x} IN (" + ", ".join(self.lit(v) for v in vals) + "))"

    def op(self, sym, a, b):
        return f"({a} {sym} {b})"

    def err(self, kind, msg, path, t):
        from ..errors import encode_engine_error
        if self.lenient:
            return self.null(t)
        encoded = encode_engine_error(kind, msg, path)
        return f"CAST(raise_error({self.slot(encoded)}) AS {t})"

    def err_raw(self, encoded_parts, t):
        if self.lenient:
            return self.null(t)
        return f"CAST(raise_error({self.fn('concat', *encoded_parts)}) " \
               f"AS {t})"

    # SQL lets are REAL lambda bindings, not textual expansion: an
    # expanded 70 KB arith body OOM'd the ANTLR parser (adaptive
    # prediction explodes on deeply-nested parenthesized CASEs), so
    # small bodies beat lambda-free ones.  Evaluation is EAGER (the
    # transform's array argument evaluates before the body) — the
    # layered arith protocol relies on that (ops_bodies._body_arith).
    # The variable counter is PER BUILDER so identically-shaped bodies
    # render identical text (function sharing keys on the text).

    def _var(self):
        self._varn = getattr(self, "_varn", 0) + 1
        return f"_rmv{self._varn}"

    def let(self, x, fn):
        var = self._var()
        return (f"try_element_at(transform(array({x}), "
                f"{var} -> {fn(var)}), 1)")

    def let_many(self, xs, fn):
        if not xs:
            return fn()
        if len(xs) == 1:
            return self.let(xs[0], fn)
        var = self._var()
        fields = ", ".join(f"{self.lit(f'_b{i}')}, {x}"
                           for i, x in enumerate(xs))
        body = fn(*[f"{var}._b{i}" for i in range(len(xs))])
        return (f"try_element_at(transform(array(named_struct({fields}))"
                f", {var} -> {body}), 1)")

    def struct(self, **kw):
        fields = ", ".join(f"{self.lit(k)}, {v}" for k, v in kw.items())
        return f"named_struct({fields})"

    def field(self, x, name):
        return f"{x}.{name}"

    def ts_add_seconds(self, n, ts):
        return f"timestampadd(SECOND, {n}, {ts})"

    def concat(self, *xs):
        return self.fn("concat", *xs)
