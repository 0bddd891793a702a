"""Array ops — compiled to Spark higher-order functions.

Reference: v2-native implementations ``v2_eval.rs:1930-2446`` (v2 rules)
and v1 ``transform.rs:3075-4358`` (v1 rules).  Every per-element
sub-expression compiles into the HOF lambda body (``F.transform`` /
``F.filter`` / ``F.aggregate`` / ``F.array_sort``), so Catalyst evaluates
them JVM-side without per-record interpretation.

Input coercion (``eval_v2_array_from_eval_value``, ``v2_eval.rs:1536-1553``;
v1 ``eval_array_arg`` ``transform.rs:2894-2922``): missing/null → empty
array, non-array → error.  Exception: v2 ``map`` propagates missing and
errors on null (``v2_eval.rs:1938-1950``).

The array algorithms are kernels, shared with the typed engine
(``typed.py`` calls them on native ``array<T>`` columns): the count
clamp and slice arithmetic of ``take``/``drop``/``slice``
(:func:`arr_take`, :func:`arr_drop`, :func:`arr_slice`), the first-wins keep-by-key filter of ``unique`` and
``distinct_by`` (:func:`keep_first`), the first-match search of
``find``/``find_index`` (:func:`first_match`, :func:`match_index`), the
numeric fold of ``sum``/``min``/``max``/``avg`` (:func:`numeric_fold`)
and the element pick of ``first``/``last`` (:func:`end_element`).  Each
takes an already-converted array column and returns a Column; the
conversions, operand protocols and result wrapping (``V.arr_to_variant``
here, ``TVal`` there) stay with each engine.

A ``flatten`` depth other than a literal 0-32 and a ``sort_by`` order
other than a literal ``asc``/``desc`` evaluate through the interpreter
(``interp_bridge.needs_interp``), which raises the reference's errors
per record.
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..expr_ir import MapStep, Pipe
from . import variant as V
from .core import (Scope, arg_path, compile_pipe, compile_step, cur_version,
                   raw_path, register, rerr, sub_path)
from .ops_object import _literal_or_none
from .ops_scalar import _as_i64, _chk, _operands, seq_strict

# ``flatten`` unrolls one fold per level, up to this literal depth
MAX_FLATTEN_DEPTH = 32


# --- kernels (shared with typed.py) -------------------------------------


def _clamp_count(n: Column, size: Column) -> Column:
    """saturate n to [-size, size] — overflow-safe like the reference's
    take/drop (``tests/array_ops_overflow_32bit.rs``); avoids ANSI
    abs(i64::MIN) overflow."""
    return F.greatest(F.least(n, size), -size)


def arr_take(arr: Column, n: Column) -> Column:
    """take n from the head; negative n takes from the tail
    (``eval_array_take``, ``transform.rs:3272-3326``)."""
    size = F.size(arr).cast("long")
    nc = _clamp_count(n, size)
    head = F.slice(arr, F.lit(1), nc.cast("int"))
    tail = F.slice(arr, (size + nc + 1).cast("int"), (-nc).cast("int"))
    return F.when(n >= 0, head).otherwise(tail)


def arr_drop(arr: Column, n: Column) -> Column:
    """drop n from the head; negative n drops from the tail."""
    size = F.size(arr).cast("long")
    nc = _clamp_count(n, size)
    head_dropped = F.slice(arr, (nc + 1).cast("int"),
                           (size - nc).cast("int"))
    tail_dropped = F.slice(arr, F.lit(1), (size + nc).cast("int"))
    return F.when(n >= 0, head_dropped).otherwise(tail_dropped)


def arr_slice(arr: Column, start: Column, end: "Column | None") -> Column:
    """[start, end) with negatives from the end, clamped to the array
    (``eval_array_slice``, ``transform.rs:3376-3443``); no ``end``
    slices to the end."""
    size = F.size(arr).cast("long")

    def bound(k: Column) -> Column:
        return F.when(k < 0, F.greatest(size + k, F.lit(0).cast("long"))) \
                .otherwise(F.least(k, size))
    start = bound(start)
    end = size if end is None else bound(end)
    length = F.greatest(end - start, F.lit(0).cast("long"))
    return F.slice(arr, (start + 1).cast("int"), length.cast("int"))


def keep_first(arr: Column, key) -> Column:
    """first-wins dedupe: keep each element whose key first occurs at
    its own index (``transform.rs:3791-3828``, ``v2_eval.rs:2122-2152``).
    ``key`` takes the element, or the element and its index, as a
    ``F.transform`` function does."""
    keys = F.transform(arr, key)
    by_index = len(inspect.signature(key).parameters) == 2
    return F.filter(arr, lambda x, i: F.array_position(
        keys, key(x, i) if by_index else key(x)) - 1 == i.cast("long"))


def _with_index(arr: Column) -> Column:
    """array<T> → array<struct<v:T, i:int>>."""
    return F.transform(arr, lambda v, i: F.struct(v.alias("v"), i.alias("i")))


def first_match(arr: Column, pred) -> Column:
    """the first element for which ``pred(x, i)`` holds, as a
    ``struct<v, i>`` with its index; NULL when none does
    (``transform.rs:3969-4045``)."""
    return F.get(F.filter(_with_index(arr), lambda p: pred(p["v"], p["i"])),
                 0)


def match_index(arr: Column, pred) -> Column:
    """index of the first match, -1 when none."""
    return F.coalesce(first_match(arr, pred)["i"].cast("long"),
                      F.lit(-1).cast("long"))


def numeric_fold(arr: Column, nums: Column, agg: str) -> Column:
    """sum/avg/min/max of ``nums`` (``arr``'s elements as doubles), an
    f64 fold like the reference's (``transform.rs:4117-4260``); the
    caller decides the empty array."""
    if agg == "min":
        return F.array_min(nums)
    if agg == "max":
        return F.array_max(nums)
    total = F.aggregate(nums, F.lit(0.0), lambda a, x: a + x)
    return total if agg == "sum" else total / F.size(arr).cast("double")


def end_element(arr: Column, op_name: str) -> Column:
    """the element ``first`` or ``last`` picks (``v2_eval.rs:2416-2445``);
    NULL for an empty array."""
    return F.try_element_at(
        arr, F.lit(1) if op_name == "first" else F.size(arr))


# --- literal operands the Column bodies take -----------------------------


def literal_depth(arg: Pipe) -> "int | None":
    """A ``flatten`` depth the Column body unrolls: a literal integer
    0-32.  Else None: that flatten evaluates through the interpreter."""
    v = _literal_or_none(arg)
    if isinstance(v, int) and not isinstance(v, bool) \
            and 0 <= v <= MAX_FLATTEN_DEPTH:
        return v
    return None


def literal_order(arg: Pipe) -> "str | None":
    """A ``sort_by`` order the Column body takes: literal ``asc`` or
    ``desc``.  Else None: that sort evaluates through the interpreter."""
    v = _literal_or_none(arg)
    return v if v in ("asc", "desc") else None


# --- ops -----------------------------------------------------------------


def EMPTY() -> Column:
    return F.array().cast(V.ARR_T)


def _coerce_array(o: Column, path: str) -> Column:
    """missing/null → empty; array → elements; else error."""
    return (
        F.when(V.is_absent(o), EMPTY())
        .when(V.is_array(o), o.try_cast(V.ARR_T))
        .otherwise(rerr("expr_error", "expr arg must be an array",
                        path).cast(V.ARR_T))
    )


def _item_scope(scope: Scope, x: Column, i: Column) -> Scope:
    return scope.child(item=x, item_index=i, pipe=x)


def _predicate(scope: Scope, expr: Pipe, path: str):
    """Per-item predicate: missing/null → false, non-bool → error
    (``v2_eval.rs:1404-1421``)."""
    def pred(x, i):
        value = compile_pipe(expr, _item_scope(scope, x, i), path)
        return (
            F.when(V.is_absent(value), F.lit(False))
            .when(V.is_bool(value), value.try_cast("boolean"))
            .otherwise(rerr("expr_error", "value must be a boolean",
                            path).cast("boolean"))
        )
    return pred


def _key_string(scope: Scope, expr: Pipe, path: str):
    """Per-item key expression stringified — missing and null have
    their own wordings before the stringify (``eval_key_string``
    transform.rs / ``_v2_eval_key_string`` v2_eval.rs:1423-1460)."""
    def key(x, i):
        value = compile_pipe(expr, _item_scope(scope, x, i), path)
        return (
            F.when(value.isNull(),
                   rerr("expr_error", "expr arg must not be missing",
                        path).cast("string"))
            .when(V.is_vnull(value),
                  rerr("expr_error", "expr arg must not be null",
                       path).cast("string"))
            .otherwise(V.to_string_strict(
                value, path, "value must be string/number/bool")))
    return key


@register("map")
def op_map(scope, cur, args, path):
    expr = args[0]
    if cur_version() >= 2:
        # null is NOT folded to empty here: the map op matches the
        # pipe value strictly ("expr arg must be an array, got {:?}",
        # v2_eval.rs:1939-1950)
        arr = F.when(V.is_array(cur), cur.try_cast(V.ARR_T)).otherwise(
            V.raise_err_got("expr_error", "expr arg must be an array, got ",
                            cur, path).cast(V.ARR_T))
        mapped = F.transform(
            arr, lambda x, i: compile_pipe(expr, _item_scope(scope, x, i),
                                           raw_path(path, 0)))
        # v2 drops missing results (v2_eval.rs:1960-1962)
        result = V.arr_to_variant(F.filter(mapped, lambda x: x.isNotNull()))
        return F.when(cur.isNull(), F.lit(None).cast(V.VT)).otherwise(result)
    # v1 keeps missing results as null (transform.rs:3104-3110)
    arr = _coerce_array(cur, arg_path(path, 0))
    mapped = F.transform(
        arr, lambda x, i: F.coalesce(
            compile_pipe(expr, _item_scope(scope, x, i),
                         raw_path(path, 0)), V.vnull()))
    return V.arr_to_variant(mapped)


def compile_map_step(step: MapStep, cur: Column, scope: Scope, path: str):
    """The ``{map: [steps...]}`` step (``v2_eval.rs:955-1046``): pipe value
    per element, steps folded; missing results dropped.  Per-item errors
    attribute to ``{step}[{item_index}].step[{k}]`` (eval_v2_map_step) —
    the item index is runtime data, spliced via a dynamic path marker."""
    arr = F.when(V.is_array(cur), cur.try_cast(V.ARR_T)).otherwise(
        V.raise_err_got("expr_error", "map step requires array, got ",
                        cur, path).cast(V.ARR_T))

    def run(x, i):
        from .core import step_op_path
        marker = f"@@I{V.dyn_marker_depth()}@@"
        with V.dyn_path_marker(marker, i):
            inner = _item_scope(scope, x, i)
            value = x
            for j, s in enumerate(step.steps):
                sp = f"{path}{marker}.step[{j}]"
                value, inner = compile_step(
                    s, value, inner, step_op_path(s, sp, sp))
            return value

    mapped = F.transform(arr, run)
    result = V.arr_to_variant(F.filter(mapped, lambda x: x.isNotNull()))
    return F.when(cur.isNull(), F.lit(None).cast(V.VT)).otherwise(result)


@register("filter")
def op_filter(scope, cur, args, path):
    arr = _coerce_array(cur, arg_path(path, 0))
    pred = _predicate(scope, args[0], raw_path(path, 0))
    return V.arr_to_variant(F.filter(arr, pred))


@register("flat_map")
def op_flat_map(scope, cur, args, path):
    expr = args[0]
    arr = _coerce_array(cur, arg_path(path, 0))
    mapped = F.transform(
        arr, lambda x, i: F.coalesce(
            compile_pipe(expr, _item_scope(scope, x, i),
                         raw_path(path, 0)), V.vnull()))
    flattened = F.aggregate(
        mapped, EMPTY(),
        lambda acc, x: F.concat(
            acc, F.when(V.is_array(x), x.try_cast(V.ARR_T))
                  .otherwise(F.array(x))))
    return V.arr_to_variant(flattened)


@register("flatten")
def op_flatten(scope, cur, args, path):
    arr = _coerce_array(cur, arg_path(path, 0))
    for _ in range(literal_depth(args[0]) if args else 1):
        arr = F.aggregate(
            arr, EMPTY(),
            lambda acc, x: F.concat(
                acc, F.when(V.is_array(x), x.try_cast(V.ARR_T))
                      .otherwise(F.array(x))))
    return V.arr_to_variant(arr)


def _arr_probe(arr: Column) -> Column:
    """Zero-length probe that evaluates a ``_coerce_array`` result
    (raising its non-array error) without contributing text."""
    return F.coalesce(
        F.substring(F.size(V.as_nullable(arr)).cast("string"), 1, 0),
        F.lit(""))


@register("take")
def op_take(scope, cur, args, path):
    """Positional protocol: the array arg converts first (missing/null
    → [], non-array errors), then the count (missing → op missing,
    null → "expr arg must not be null", non-int → "count must be an
    integer")."""
    ops = _operands(scope, cur, args, path)
    arr = _coerce_array(ops[0], arg_path(path, 0))
    n = _as_i64(ops[1], arg_path(path, 1), "count must be an integer")
    return seq_strict(ops, path, V.arr_to_variant(arr_take(arr, n)),
                      skip={0}, checks=[_arr_probe(arr), _chk(n)])


@register("drop")
def op_drop(scope, cur, args, path):
    ops = _operands(scope, cur, args, path)
    arr = _coerce_array(ops[0], arg_path(path, 0))
    n = _as_i64(ops[1], arg_path(path, 1), "count must be an integer")
    return seq_strict(ops, path, V.arr_to_variant(arr_drop(arr, n)),
                      skip={0}, checks=[_arr_probe(arr), _chk(n)])


@register("slice")
def op_slice(scope, cur, args, path):
    ops = _operands(scope, cur, args, path)
    arr = _coerce_array(ops[0], arg_path(path, 0))
    start = _as_i64(ops[1], arg_path(path, 1), "start must be an integer")
    checks = [_arr_probe(arr), _chk(start)]
    end = None
    if len(args) == 2:
        end = _as_i64(ops[2], arg_path(path, 2), "end must be an integer")
        checks.append(_chk(end))
    result = V.arr_to_variant(arr_slice(arr, start, end))
    return seq_strict(ops, path, result, skip={0}, checks=checks)


@register("chunk")
def op_chunk(scope, cur, args, path):
    """``eval_array_chunk`` (``transform.rs:3445``): size converts with
    "size must be a positive integer" (conversion AND positivity)."""
    ops = _operands(scope, cur, args, path)
    # null-transparent: let_many binds EAGERLY, so the conversion must
    # not raise on null rows — the protocol's null guard (correct
    # wording) fires first on those
    n = F.when(V.is_absent(ops[1]), F.lit(None).cast("long")).otherwise(
        _as_i64(ops[1], arg_path(path, 1),
                "size must be a positive integer"))
    n_checked = F.when(n <= 0, rerr(
        "expr_error", "size must be a positive integer",
        arg_path(path, 1)).cast("long")).otherwise(n)

    # let-bind the coerced array and chunk size: referenced inside the
    # per-chunk lambda, a bare subtree would re-coerce per chunk
    def body(arr: Column, nc: Column) -> Column:
        size = F.size(arr).cast("long")
        n_chunks = F.ceil(size.cast("double") / nc.cast("double")).cast("int")
        # a size past the array's length takes it whole: clamped
        # first, it never overflows the int cast
        chunks = F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.slice(arr, (i.cast("long") * nc + 1).cast("int"),
                              F.least(nc, size).cast("int")).cast(V.VT))
        result = V.arr_to_variant(
            F.when(size == 0, EMPTY()).otherwise(chunks))
        return seq_strict(ops, path, result, skip={0},
                          checks=[_arr_probe(arr), _chk(nc)])

    return V.let_many([_coerce_array(ops[0], arg_path(path, 0)),
                       n_checked], body)


def _zip_rows(arrays: list[Column]) -> Column:
    """rows as array<array<variant>>, zipped to shortest.

    Arrays are let-bound: ``try_element_at(a, i)`` runs per row index,
    so a bare coercion subtree would re-cast every operand array per
    element (quadratic)."""
    def body(*arrs: Column) -> Column:
        if len(arrs) > 1:
            min_len = F.least(*[F.size(a) for a in arrs])
        else:
            min_len = F.size(arrs[0])
        rows = F.transform(
            F.sequence(F.lit(1), F.greatest(min_len, F.lit(1))),
            lambda i: F.array(*[F.try_element_at(a, i) for a in arrs]))
        return F.when(min_len <= 0,
                      F.array().cast("array<array<variant>>")) \
                .otherwise(rows)

    return V.let_many(arrays, body)


@register("zip")
def op_zip(scope, cur, args, path):
    ops = _operands(scope, cur, args, path)
    arrays = [_coerce_array(o, arg_path(path, i))
              for i, o in enumerate(ops)]
    rows = _zip_rows(arrays)
    return V.arr_to_variant(
        F.transform(rows, lambda row: row.cast(V.VT)))


@register("zip_with")
def op_zip_with(scope, cur, args, path):
    """zip to shortest, combiner sees @item = the zipped row array
    (``transform.rs:3538-3598``); missing combiner results kept as null."""
    expr = args[-1]
    ops = _operands(scope, cur, args[:-1], path)
    arrays = [_coerce_array(o, arg_path(path, i))
              for i, o in enumerate(ops)]
    rows = _zip_rows(arrays)
    lam = raw_path(path, len(args) - 1)
    combined = F.transform(
        rows,
        lambda row, i: F.coalesce(
            compile_pipe(expr, _item_scope(scope, row.cast(V.VT), i), lam),
            V.vnull()))
    return V.arr_to_variant(combined)


@register("unzip")
def op_unzip(scope, cur, args, path):
    """array-of-rows → array-of-columns; rows must be equal-length arrays
    (``transform.rs:3600-3660``)."""
    # nested let-bindings: width_checked runs a forall over the whole
    # array, and is referenced per output column — unbound it would
    # re-scan the array once per column
    def body(arr: Column) -> Column:
        first_row = V.as_array(F.try_element_at(arr, F.lit(1)))
        # two distinct failures like the reference (transform.rs:
        # 3625-3645): a non-array item vs an array of the wrong length
        all_arrays = F.forall(arr, V.is_array)
        width_ok = F.forall(arr, lambda row:
                            F.size(V.as_array(row)) == F.size(first_row))
        width_checked = (
            F.when(~F.coalesce(all_arrays, F.lit(True)),
                   rerr("expr_error", "unzip items must be arrays",
                        arg_path(path, 0)).cast("int"))
            .when(width_ok, F.size(first_row))
            .otherwise(rerr("expr_error",
                            "unzip items must have the same length",
                            arg_path(path, 0)).cast("int")))

        def with_width(wc: Column) -> Column:
            cols = F.transform(
                F.sequence(F.lit(1), F.greatest(wc, F.lit(1))),
                lambda j: F.transform(
                    arr, lambda row: F.try_element_at(V.as_array(row), j))
                .cast(V.VT))
            return V.arr_to_variant(
                F.when((F.size(arr) == 0) | (wc <= 0), EMPTY())
                .otherwise(cols))

        return V.let(width_checked, with_width)

    return V.let(_coerce_array(cur, arg_path(path, 0)), body)


@register("group_by")
def op_group_by(scope, cur, args, path):
    """{key: [items]} — key expr stringified (``v2_eval.rs:2026-2057``).
    Note: variant objects enumerate keys sorted, not first-seen."""
    arr = _coerce_array(cur, arg_path(path, 0))
    key = _key_string(scope, args[0], raw_path(path, 0))
    pairs = F.transform(arr, lambda x, i: F.struct(key(x, i).alias("k"),
                                                   x.alias("v")))
    distinct_keys = F.array_distinct(F.transform(pairs, lambda p: p["k"]))
    m = F.map_from_entries(F.transform(
        distinct_keys,
        lambda k: F.struct(
            k.alias("key"),
            F.transform(F.filter(pairs, lambda p: p["k"] == k),
                        lambda p: p["v"]).cast(V.VT).alias("value"))))
    return V.map_to_variant(m)


@register("key_by")
def op_key_by(scope, cur, args, path):
    """{key: item}, last wins (``transform.rs:3706-3743``)."""
    arr = _coerce_array(cur, arg_path(path, 0))
    key = _key_string(scope, args[0], raw_path(path, 0))
    pairs = F.transform(arr, lambda x, i: F.struct(key(x, i).alias("key"),
                                                   x.alias("value")))
    # map_from_entries + LAST_WIN dedup policy = last wins
    return V.map_to_variant(F.map_from_entries(pairs))


@register("partition")
def op_partition(scope, cur, args, path):
    arr = _coerce_array(cur, arg_path(path, 0))
    pred = _predicate(scope, args[0], raw_path(path, 0))
    decorated = F.transform(arr, lambda x, i: F.struct(
        x.alias("v"), pred(x, i).alias("m")))
    matched = F.transform(F.filter(decorated, lambda d: d["m"]),
                          lambda d: d["v"])
    unmatched = F.transform(F.filter(decorated, lambda d: ~d["m"]),
                            lambda d: d["v"])
    return V.arr_to_variant(F.array(matched.cast(V.VT), unmatched.cast(V.VT)))


@register("unique")
def op_unique(scope, cur, args, path):
    arr = _coerce_array(cur, arg_path(path, 0))
    item_path = arg_path(path, 0)
    def ukey(x):
        return (
            F.when(V.is_vnull(x) | x.isNull(), F.lit("\x00null"))
            .when(V.is_array(x) | V.is_object(x),
                  rerr("expr_error",
                       "value must be string/number/bool or null",
                       item_path).cast("string"))
            .otherwise(V.to_string_strict(x, item_path))
        )
    return V.arr_to_variant(keep_first(arr, ukey))


@register("distinct_by")
def op_distinct_by(scope, cur, args, path):
    """dedupe by key expr, first wins (``v2_eval.rs:2122-2152``)."""
    arr = _coerce_array(cur, arg_path(path, 0))
    key = _key_string(scope, args[0], raw_path(path, 0))
    return V.arr_to_variant(keep_first(arr, key))


@register("sort_by")
def op_sort_by(scope, cur, args, path):
    """stable sort by key expr; keys must be uniformly num/str/bool
    (``transform.rs:3872-3967``, ``v2_eval.rs:2153-2246``)."""
    arr = _coerce_array(cur, arg_path(path, 0))
    key_fn_expr = args[0]
    key_path = raw_path(path, 0)
    order = literal_order(args[1]) if len(args) == 2 else "asc"

    def key(x, i):
        value = compile_pipe(key_fn_expr, _item_scope(scope, x, i),
                             key_path)
        t = V.typeof(value)
        num = V.is_number(value)
        d = value.try_cast("double")
        # number keys must be finite (eval_v2_sort_key,
        # v2_eval.rs:1515-1530; SortKey::Number carries a plain f64)
        finite = ~F.isnan(d) & (F.abs(d) != F.lit(float("inf")))
        ok = num | (t == "STRING") | (t == "BOOLEAN")
        # eval_v2_sort_key (v2_eval.rs:1486-1534): missing and null key
        # expressions have their own wordings before the kind check
        return (F.when(value.isNull(),
                       rerr("expr_error", "expr arg must not be missing",
                            key_path).cast(V.VT))
                .when(V.is_vnull(value),
                      rerr("expr_error", "expr arg must not be null",
                           key_path).cast(V.VT))
                .when(num & ~F.coalesce(finite, F.lit(False)),
                      rerr("expr_error",
                           "sort_by key must be a finite number",
                           key_path).cast(V.VT))
                .when(ok, value)
                .otherwise(rerr("expr_error",
                                "sort_by key must be string/number/bool",
                                key_path).cast(V.VT)))

    decorated = F.transform(arr, lambda x, i: F.struct(
        x.alias("v"), i.alias("i"), key(x, i).alias("k")))

    sign = 1 if order == "asc" else -1

    def cmp(a, b):
        ka, kb = a["k"], b["k"]
        kan = ka.try_cast("double")
        kbn = kb.try_cast("double")
        kas = ka.try_cast("string")
        kbs = kb.try_cast("string")
        num_mode = V.is_number(ka)
        keycmp = (
            F.when(num_mode & (kan < kbn), -1)
            .when(num_mode & (kan > kbn), 1)
            .when(~num_mode & (kas < kbs), -1)
            .when(~num_mode & (kas > kbs), 1)
            .otherwise(0)
        ) * F.lit(sign)
        return F.when(keycmp != 0, keycmp).otherwise(
            F.when(a["i"] < b["i"], -1).when(a["i"] > b["i"], 1).otherwise(0))

    sorted_arr = F.array_sort(decorated, cmp)
    result = V.arr_to_variant(F.transform(sorted_arr, lambda p: p["v"]))
    # every key must share one kind across the array (v2_eval.rs:2218,
    # transform.rs:3939); evaluating the kinds also forces each key's
    # own per-element error first, like the reference's in-order loop
    kind = F.array_distinct(F.transform(
        decorated, lambda p: F.when(V.is_number(p["k"]), F.lit("n"))
        .when(V.typeof(p["k"]) == "STRING", F.lit("s"))
        .otherwise(F.lit("b"))))
    return F.when(F.size(kind) > 1,
                  rerr("expr_error",
                       "sort_by keys must be all the same type",
                       key_path).cast(V.VT)).otherwise(result)


@register("find")
def op_find(scope, cur, args, path):
    """first match, JSON null if none (``transform.rs:3969-4006``)."""
    arr = _coerce_array(cur, arg_path(path, 0))
    first = first_match(arr, _predicate(scope, args[0], raw_path(path, 0)))
    return F.when(first.isNull(), V.vnull()).otherwise(
        F.coalesce(first["v"], V.vnull()))


@register("find_index")
def op_find_index(scope, cur, args, path):
    """index of first match, -1 if none (``transform.rs:4008-4045``)."""
    arr = _coerce_array(cur, arg_path(path, 0))
    pred = _predicate(scope, args[0], raw_path(path, 0))
    return match_index(arr, pred).cast(V.VT)


def _eq_proxy(x: Column, path: str) -> Column:
    """v1 compare_eq as a string proxy (null ≡ null; scalars stringified;
    ``ensure_eq_compatible`` wording, transform.rs)."""
    return (
        F.when(x.isNull() | V.is_vnull(x), F.lit("\x00null"))
        .otherwise(V.to_string_strict(
            x, path, "value must be string/number/bool or null"))
    )


@register("index_of")
def op_index_of(scope, cur, args, path):
    arr = _coerce_array(cur, arg_path(path, 0))
    target = compile_pipe(args[0], scope.child(pipe=cur), sub_path(path, 0))
    proxies = F.transform(arr, lambda x: _eq_proxy(x, arg_path(path, 0)))
    pos = F.array_position(proxies, _eq_proxy(target, arg_path(path, 1)))
    return (pos - 1).cast("long").cast(V.VT)


@register("contains")
def op_contains(scope, cur, args, path):
    arr = _coerce_array(cur, arg_path(path, 0))
    target = compile_pipe(args[0], scope.child(pipe=cur), sub_path(path, 0))
    proxies = F.transform(arr, lambda x: _eq_proxy(x, arg_path(path, 0)))
    return F.array_contains(proxies, _eq_proxy(target, arg_path(path, 1))).cast(V.VT)


def _numeric_agg(scope, cur, args, path, agg: str):
    """sum/avg/min/max: empty → JSON null; elements must be numbers
    (``transform.rs:4117-4260``)."""
    arr = _coerce_array(cur, arg_path(path, 0))
    nums = F.transform(arr, lambda x: V.to_number_strict(
        x, arg_path(path, 0), "array item must be a number"))
    return F.when(F.size(arr) == 0, V.vnull()).otherwise(
        V.num_to_variant(numeric_fold(arr, nums, agg)))


@register("sum")
def op_sum(scope, cur, args, path):
    return _numeric_agg(scope, cur, args, path, "sum")


@register("avg")
def op_avg(scope, cur, args, path):
    return _numeric_agg(scope, cur, args, path, "avg")


@register("min")
def op_min(scope, cur, args, path):
    return _numeric_agg(scope, cur, args, path, "min")


@register("max")
def op_max(scope, cur, args, path):
    return _numeric_agg(scope, cur, args, path, "max")


@register("reduce")
def op_reduce(scope, cur, args, path):
    """fold seeded by the first element; empty → JSON null
    (``transform.rs:4262-4308``)."""
    expr = args[0]
    arr = _coerce_array(cur, arg_path(path, 0))
    rest = F.slice(_with_index(arr), 2,
                   F.greatest(F.size(arr) - 1, F.lit(0)))
    seed = F.coalesce(F.try_element_at(arr, F.lit(1)), V.vnull())

    def step(acc, p):
        inner = scope.child(item=p["v"], item_index=p["i"], acc=acc,
                            pipe=p["v"])
        return F.coalesce(compile_pipe(expr, inner, raw_path(path, 0)),
                          V.vnull())

    result = F.aggregate(rest, seed, step)
    return F.when(F.size(arr) == 0, V.vnull()).otherwise(result)


@register("fold")
def op_fold(scope, cur, args, path):
    """fold with explicit initial value (``transform.rs:4310-4358``)."""
    init_expr, expr = args[0], args[1]
    arr = _coerce_array(cur, arg_path(path, 0))
    init_raw = compile_pipe(init_expr, scope.child(pipe=cur),
                            sub_path(path, 0))

    def step(acc, p):
        inner = scope.child(item=p["v"], item_index=p["i"], acc=acc,
                            pipe=p["v"])
        return F.coalesce(compile_pipe(expr, inner, raw_path(path, 1)),
                          V.vnull())

    # a MISSING initial value makes the whole op missing (v2 fold
    # ``initial is MISSING → MISSING``, v2_eval.rs:2336-2346; v1
    # _op_fold identical) — it does NOT fold with a null seed
    def body(init: Column) -> Column:
        result = F.aggregate(_with_index(arr),
                             F.coalesce(init, V.vnull()), step)
        # the array coerces BEFORE the initial value evaluates
        # (both versions), so its error must win over init-missing
        return F.when(F.length(_arr_probe(arr)) >= 1,
                      F.raise_error(F.lit("unreachable probe"))
                      .cast(V.VT)) \
                .when(init.isNull(), F.lit(None).cast(V.VT)) \
                .otherwise(result)

    return V.let(init_raw, body)


def _strict_array(o: Column, op_name: str, path: str) -> Column:
    """v2 first/last pipe protocol (``v2_eval.rs:2416-2445``): missing
    propagates, arrays pass, everything else — INCLUDING null, unlike
    ``eval_v2_array_from_eval_value``'s null→[] — errors with the
    value's Debug rendering (``first requires array, got Null``)."""
    return (
        F.when(o.isNull(), F.lit(None).cast(V.ARR_T))
        .when(V.is_array(o), o.try_cast(V.ARR_T))
        .otherwise(V.raise_err_got(
            "expr_error", f"{op_name} requires array, got ", o, path)
            .cast(V.ARR_T))
    )


def _first_last(cur: Column, path: str, op_name: str) -> Column:
    """first/last element, missing on empty/missing input
    (``v2_eval.rs:2416-2445``)."""
    arr = _strict_array(cur, op_name, path)
    return (F.when(cur.isNull(), F.lit(None).cast(V.VT))
            .when(F.size(arr) == 0, F.lit(None).cast(V.VT))
            .otherwise(F.coalesce(end_element(arr, op_name), V.vnull())))


@register("first")
def op_first(scope, cur, args, path):
    return _first_last(cur, path, "first")


@register("last")
def op_last(scope, cur, args, path):
    return _first_last(cur, path, "last")
