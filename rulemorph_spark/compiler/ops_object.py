"""JSON/object ops: merge, get, pick, omit, keys/values/entries, len,
from_entries, object_flatten, object_unflatten.

Reference semantics: ``transform.rs:4360-5057``.  Objects compile to
``map<string,variant>`` Columns.  Note: the variant encoding stores object
keys sorted, so key-enumeration order is sorted here where the reference
preserves insertion order (structural JSON equality is unaffected).

``object_flatten`` / ``object_unflatten`` / ``deep_merge`` recurse over
data-dependent shapes that Column expressions cannot express for unbounded
depth — they run as Arrow-batched pandas UDFs over canonical JSON text
(the engine's only Python-side ops; everything else is JVM-side).
"""

from __future__ import annotations

import json as _json

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import RuleError, encode_engine_error
from ..expr_ir import Pipe, StartLiteral
from ..paths import Index, Key, parse_path
from . import variant as V
from .core import (arg_path, compile_pipe, register, rerr, rerr_dyn,
                   sub_path)
from .ops_scalar import _operands, seq_strict

_MISSING_SENTINEL = "\x00missing\x00"


def _obj_or_error(o: Column, path: str) -> Column:
    return F.when(V.is_object(o), o.try_cast(V.MAP_T)).otherwise(
        rerr("expr_error", "expr arg must be object", path).cast(V.MAP_T))


@register("merge")
def op_merge(scope, cur, args, path):
    """Shallow merge, rightmost wins; missing args skipped; all-missing →
    missing (``transform.rs:4360-4417``).  Errors attribute to the
    offending arg's index (reference fixtures r03/r04)."""
    ops = _operands(scope, cur, args, path)
    checked = [
        F.when(o.isNull(), F.lit(None).cast(V.MAP_T))
        .when(V.is_vnull(o), rerr("expr_error", "expr arg must not be null",
                                  arg_path(path, j)).cast(V.MAP_T))
        .otherwise(_obj_or_error(o, arg_path(path, j)))
        for j, o in enumerate(ops)
    ]
    merged = checked[0]
    for m in checked[1:]:
        both = F.map_zip_with(
            F.coalesce(merged, F.create_map().cast(V.MAP_T)),
            F.coalesce(m, F.create_map().cast(V.MAP_T)),
            lambda k, v1, v2: F.coalesce(v2, v1))
        merged = (
            F.when(merged.isNull(), m)
            .when(m.isNull(), merged)
            .otherwise(both)
        )
    return F.when(merged.isNull(), F.lit(None).cast(V.VT)).otherwise(
        V.map_to_variant(merged))


def _json_udf(fn_name: str, py_fn):
    """Wrap a JSON-text → JSON-text python function as an Arrow pandas UDF.

    ``None`` input/output encodes *missing*; engine errors are raised with
    the standard payload so the driver recovers {kind, path}.
    """
    @F.pandas_udf("string")
    def _udf(col: pd.Series) -> pd.Series:
        def run(text):
            if text is None:
                return None
            return py_fn(_json.loads(text))
        return col.map(run)
    return _udf


def _py_err(kind, message, path):
    return RuntimeError(encode_engine_error(kind, message, path))


def _make_deep_merge(arg_paths):
    def deep_merge(payload):
        objs = payload  # list of objects (nulls pre-checked)
        def merge(target, incoming):
            for k, v in incoming.items():
                if isinstance(target.get(k), dict) and isinstance(v, dict):
                    merge(target[k], v)
                else:
                    target[k] = v
        result = {}
        first = True
        for j, o in enumerate(objs):
            if o == _MISSING_SENTINEL:
                continue
            if o is None:
                raise _py_err("expr_error", "expr arg must not be null",
                              arg_paths[j])
            if not isinstance(o, dict):
                raise _py_err("expr_error", "expr arg must be object",
                              arg_paths[j])
            if first:
                result = _json.loads(_json.dumps(o))
                first = False
            else:
                merge(result, o)
        if first:
            return None
        return _json.dumps(result)
    return deep_merge


@register("deep_merge")
def op_deep_merge(scope, cur, args, path):
    """Recursive object merge; arrays replaced (``transform.rs:5059-5080``).
    Unbounded recursion → pandas-UDF slow path."""
    ops = _operands(scope, cur, args, path)
    packed = F.to_json(F.array(*[
        F.coalesce(F.to_json(o), F.lit(_json.dumps(_MISSING_SENTINEL)))
        for o in ops
    ]).cast("array<string>"))
    # array of JSON texts; decode inside the UDF (paths precomputed to
    # plain strings so the closure never pickles an OpPath)
    arg_paths = [str(arg_path(path, j)) for j in range(len(ops))]
    udf = _json_udf("deep_merge", _make_deep_merge_outer(arg_paths))
    result = udf(packed)
    return F.when(result.isNull(), F.lit(None).cast(V.VT)).otherwise(
        F.parse_json(result))


def _make_deep_merge_outer(arg_paths):
    inner = _make_deep_merge(arg_paths)
    def outer(texts):
        objs = [_json.loads(t) for t in texts]
        return inner(objs)
    return outer


@register("get")
def op_get(scope, cur, args, path):
    """Value at dot path; absent → missing; null base → missing
    (``transform.rs:4419-4474``)."""
    ops = _operands(scope, cur, args, path)
    base, path_arg = ops[0], ops[1]
    kp = arg_path(path, 1)
    path_literal = _literal_or_none(args[0])
    if path_literal is not None:
        if not isinstance(path_literal, str):
            # literal non-string key: value_as_string error — AFTER the
            # base checks (missing/null base short-circuits to missing,
            # eval_json_get transform.rs:4446-4474)
            result = rerr("expr_error", "value must be a string",
                          kp).cast(V.VT)
        elif not path_literal:
            result = rerr("expr_error", "path must be a non-empty string",
                          kp).cast(V.VT)
        else:
            try:
                tokens = parse_path(path_literal, error_code="expr_error")
            except RuleError as e:
                # per-record parse error AFTER the base checks
                # (eval_json_get parses at eval time)
                result = rerr("expr_error", e.message, kp).cast(V.VT)
            else:
                result = V.navigate(base, tokens)
    else:
        # dynamic path (``eval_json_get``, ``transform.rs:4446-4474``):
        # non-string → "value must be a string", empty → "path must be
        # a non-empty string", then dot/bracket navigation per segment
        # (plain keys + [n] indexes; ``get_path`` absent → missing)
        key = F.when(V.is_string(path_arg),
                     path_arg.try_cast("string")).otherwise(
            rerr("expr_error", "value must be a string",
                 kp).cast("string"))
        key = F.when(key == "", rerr(
            "expr_error", "path must be a non-empty string",
            kp).cast("string")).otherwise(key)
        # per-row parse errors with the reference wordings
        # (parse_path_tokens; path.rs classes)
        key = V.path_parse_guard(
            key, lambda m: rerr("expr_error", m, kp).cast("string"))

        def _nav_seg(acc: Column, seg: Column) -> Column:
            name = F.regexp_extract(seg, r"^([^\[\]]*)", 1)
            idxs = F.regexp_extract_all(seg, F.lit(r"\[(\d+)\]"), 1)
            keyed = F.when(name == "", acc).otherwise(V.get_key(acc, name))
            return F.aggregate(
                idxs, keyed,
                lambda a, i: F.try_element_at(V.as_array(a),
                                              i.cast("int") + 1))

        result = F.aggregate(F.split(key, r"\.", -1), base.cast(V.VT),
                             _nav_seg)
    return (
        F.when(base.isNull() | V.is_vnull(base), F.lit(None).cast(V.VT))
        .when(path_arg.isNull(), F.lit(None).cast(V.VT))
        .when(V.is_vnull(path_arg),
              rerr("expr_error", "expr arg must not be null", kp).cast(V.VT))
        .otherwise(result)
    )


def _literal_or_none(arg: Pipe):
    if isinstance(arg.start, StartLiteral) and not arg.steps:
        return arg.start.value
    return None


def _paths_from_args(args, path, *, allow_terminal_index: bool):
    """pick/omit paths must be compile-time literals here
    (``transform.rs:4964-5040``); dedup + conflict checks apply.  Path
    args start at original arg index 1 (index 0 is the object), and
    errors attribute to the offending arg (fixture r02)."""
    raw_paths: list[tuple[str, str]] = []
    for j, a in enumerate(args, start=1):
        # v1 has ONE paths operand at args[1]; v2 validates each arg
        # 0-based with array items at args[j][k] — sub_path covers both
        ap = sub_path(path, j - 1)
        lit = _literal_or_none(a)
        if lit is None:
            raise RuleError("expr_error",
                            "pick/omit paths must be literals for the Spark "
                            "compiler", ap)
        if isinstance(lit, str):
            raw_paths.append((lit, ap))
        elif isinstance(lit, list) and all(isinstance(x, str) for x in lit):
            raw_paths.extend((x, f"{ap}[{k}]") for k, x in enumerate(lit))
        elif isinstance(lit, list):
            bad = next(k for k, x in enumerate(lit)
                       if not isinstance(x, str))
            raise RuleError("expr_error",
                            "paths must be a string or array of strings",
                            f"{ap}[{bad}]")
        else:
            raise RuleError("expr_error",
                            "paths must be a string or array of strings",
                            ap)
    token_paths = []
    for p, ap in raw_paths:
        tokens = parse_path(p, error_code="expr_error")
        if not allow_terminal_index and tokens and isinstance(tokens[-1], Index):
            raise RuleError("expr_error",
                            "path must not end with array index", ap)
        if tokens in token_paths:
            continue
        for existing in token_paths:
            shorter, longer = sorted((existing, tokens), key=len)
            if longer[:len(shorter)] == shorter:
                raise RuleError("expr_error",
                                "path conflicts with another path", ap)
        token_paths.append(tokens)
    return token_paths


def _build_object(fields: list[tuple[str, Column]]) -> Column:
    """object from (key, variant-value) pairs; missing values omit keys."""
    if not fields:
        return V.lit_variant({})
    m = F.map_filter(
        F.map_from_arrays(
            F.array(*[F.lit(k) for k, _ in fields]),
            F.array(*[v for _, v in fields]),
        ),
        lambda k, v: v.isNotNull(),
    )
    return V.map_to_variant(m)


def _pick_tree(base: Column, token_paths, path) -> Column:
    """Reconstruct the picked sub-object (object keys only beyond root)."""
    groups: dict[str, list] = {}
    for tokens in token_paths:
        if not tokens:
            continue
        head = tokens[0]
        if not isinstance(head, Key):
            raise RuleError("expr_error",
                            "pick paths must start with an object key", path)
        groups.setdefault(head.name, []).append(tokens[1:])
    fields = []
    for key, rests in groups.items():
        child = V.get_key(base, key)
        if any(len(r) == 0 for r in rests):
            fields.append((key, child))
        else:
            fields.append((key, F.when(child.isNotNull(),
                                       _pick_tree(child, rests, path))))
    return _build_object(fields)


def _args_all_literal(args) -> bool:
    return all(_literal_or_none(a) is not None for a in args)


def _paths_need_udf(args, path, *, allow_terminal_index: bool) -> bool:
    """Dynamic paths, or literal paths with array indexes, take the
    python slow path (Column reconstruction handles object keys only)."""
    if not _args_all_literal(args):
        return True
    try:
        token_paths = _paths_from_args(args, path,
                                       allow_terminal_index=allow_terminal_index)
    except RuleError:
        return True  # surface the reference-shaped error from the UDF
    return any(isinstance(tok, Index) for t in token_paths for tok in t)


@register("pick")
def op_pick(scope, cur, args, path):
    if _paths_need_udf(args, path, allow_terminal_index=True):
        return _pick_omit_udf(scope, cur, args, path, pick=True)
    ops = _operands(scope, cur, args, path)
    base = ops[0]
    token_paths = _paths_from_args(args, path, allow_terminal_index=True)
    picked = _pick_tree(base, token_paths, path)
    p0 = arg_path(path, 0)
    return (
        F.when(base.isNull(), F.lit(None).cast(V.VT))
        .when(V.is_vnull(base),
              rerr("expr_error", "expr arg must not be null", p0).cast(V.VT))
        .when(~V.is_object(base),
              rerr("expr_error", "expr arg must be object", p0).cast(V.VT))
        .otherwise(picked)
    )


def _omit_tree(base_map: Column, token_paths, path) -> Column:
    """map<string,variant> with the given literal paths removed."""
    top_removed = {t[0].name for t in token_paths
                   if len(t) == 1 and isinstance(t[0], Key)}
    nested: dict[str, list] = {}
    for t in token_paths:
        if len(t) > 1 and isinstance(t[0], Key):
            nested.setdefault(t[0].name, []).append(t[1:])
    result = base_map
    if top_removed:
        names = F.array(*[F.lit(n) for n in top_removed])
        result = F.map_filter(result, lambda k, v: ~F.array_contains(names, k))
    def rewriter(key, rests):
        # factory, not default-arg lambda: pyspark counts default params
        # as extra HOF lambda variables
        def rewrite(k, v):
            child_obj = V.as_map(v)
            rewritten = V.map_to_variant(_omit_tree(child_obj, rests, path))
            return F.when((k == key) & child_obj.isNotNull(), rewritten) \
                    .otherwise(v)
        return rewrite

    for key, rests in nested.items():
        result = F.transform_values(result, rewriter(key, rests))
    return result


@register("omit")
def op_omit(scope, cur, args, path):
    if _paths_need_udf(args, path, allow_terminal_index=False):
        return _pick_omit_udf(scope, cur, args, path, pick=False)
    ops = _operands(scope, cur, args, path)
    base = ops[0]
    token_paths = _paths_from_args(args, path, allow_terminal_index=True)
    token_paths = [t for t in token_paths
                   if all(isinstance(tok, Key) for tok in t)]
    omitted = V.map_to_variant(_omit_tree(base.try_cast(V.MAP_T),
                                          token_paths, path))
    p0 = arg_path(path, 0)
    return (
        F.when(base.isNull(), F.lit(None).cast(V.VT))
        .when(V.is_vnull(base),
              rerr("expr_error", "expr arg must not be null", p0).cast(V.VT))
        .when(~V.is_object(base),
              rerr("expr_error", "expr arg must be object", p0).cast(V.VT))
        .otherwise(omitted)
    )


def _py_parse_paths(values, err_paths, *, allow_terminal_index: bool):
    """``eval_json_paths_arg`` (``transform.rs:4964-5040``) in Python.
    ``err_paths[j]`` is the error path for ``values[j]`` (arg-level
    attribution for v1 ops, fixture r02)."""
    from ..paths import Index as PIndex
    from ..paths import parse_path as pp
    raw: list[tuple[str, str]] = []
    for v, ep in zip(values, err_paths):
        if isinstance(v, str):
            raw.append((v, ep))
        elif isinstance(v, list):
            # array items attribute to their index inside the arg
            # (``_eval_json_paths_arg``: ``{arg}[{k}]``)
            for k, item in enumerate(v):
                if not isinstance(item, str):
                    raise _py_err("expr_error",
                                  "paths must be a string or array of "
                                  "strings", f"{ep}[{k}]")
                raw.append((item, f"{ep}[{k}]"))
        else:
            raise _py_err("expr_error",
                          "paths must be a string or array of strings", ep)
    token_paths = []
    for p, ep in raw:
        try:
            tokens = pp(p, error_code="expr_error")
        except RuleError as e:
            raise _py_err("expr_error", str(e), ep)
        if not allow_terminal_index and tokens and \
                isinstance(tokens[-1], PIndex):
            raise _py_err("expr_error",
                          "path must not end with array index", ep)
        if tokens in token_paths:
            continue
        for existing in token_paths:
            shorter, longer = sorted((existing, tokens), key=len)
            if longer[:len(shorter)] == shorter:
                raise _py_err("expr_error",
                              "path conflicts with another path", ep)
        token_paths.append(tokens)
    return token_paths


def _py_set_path_with_indexes(root, tokens, value, path):
    from ..paths import Index as PIndex
    from ..paths import Key as PKey
    cur = root
    for i, tok in enumerate(tokens[:-1]):
        nxt_tok = tokens[i + 1]
        if isinstance(tok, PKey):
            if not isinstance(cur, dict):
                raise _py_err("expr_error",
                              "intermediate path is not an object", path)
            if tok.name not in cur:
                cur[tok.name] = [] if isinstance(nxt_tok, PIndex) else {}
            cur = cur[tok.name]
        else:
            if not isinstance(cur, list):
                raise _py_err("expr_error",
                              "intermediate path is not an array", path)
            while len(cur) <= tok.index:
                cur.append({} if isinstance(nxt_tok, PKey) else [])
            cur = cur[tok.index]
    last = tokens[-1]
    if isinstance(last, PKey):
        if not isinstance(cur, dict):
            raise _py_err("expr_error",
                          "intermediate path is not an object", path)
        cur[last.name] = value
    else:
        if not isinstance(cur, list):
            raise _py_err("expr_error",
                          "intermediate path is not an array", path)
        while len(cur) <= last.index:
            cur.append(None)
        cur[last.index] = value


def _py_get_path(value, tokens):
    from ..paths import get_path as gp
    return gp(value, tokens)


def _py_remove_path(value, tokens):
    from ..paths import Index as PIndex
    from ..paths import Key as PKey
    cur = value
    for tok in tokens[:-1]:
        if isinstance(tok, PKey) and isinstance(cur, dict):
            cur = cur.get(tok.name)
        elif isinstance(tok, PIndex) and isinstance(cur, list) \
                and 0 <= tok.index < len(cur):
            cur = cur[tok.index]
        else:
            return
    last = tokens[-1]
    if isinstance(last, PKey) and isinstance(cur, dict):
        cur.pop(last.name, None)
    elif isinstance(last, PIndex) and isinstance(cur, list) \
            and 0 <= last.index < len(cur):
        cur.pop(last.index)


def _pick_omit_udf(scope, cur, args, path, *, pick: bool):
    """Dynamic pick/omit (paths from data, e.g. @context.paths) —
    pandas-UDF slow path mirroring ``transform.rs:4476-4593``."""
    ops = _operands(scope, cur, args, path)
    # plain strings precomputed so the closure never pickles an OpPath;
    # the base is operand 0, each paths arg attributes per sub_path
    # (v1: the one paths operand at args[1]; v2: 0-based per-arg)
    arg_paths = [str(arg_path(path, 0))] + \
        [str(sub_path(path, j)) for j in range(len(ops) - 1)]

    def run(parts):
        base = parts[0]
        if base == _MISSING_SENTINEL:
            return None
        if base is None:
            raise _py_err("expr_error", "expr arg must not be null",
                          arg_paths[0])
        if not isinstance(base, dict):
            raise _py_err("expr_error", "expr arg must be object",
                          arg_paths[0])
        raw_paths = []
        for j, p in enumerate(parts[1:], start=1):
            if p == _MISSING_SENTINEL:
                return None
            if p is None:
                raise _py_err("expr_error", "expr arg must not be null",
                              arg_paths[j])
            raw_paths.append(p)
        token_paths = _py_parse_paths(raw_paths, arg_paths[1:],
                                      allow_terminal_index=pick)
        if pick:
            out = {}
            for tokens in token_paths:
                found, v = _py_get_path(base, tokens)
                if found:
                    _py_set_path_with_indexes(out, tokens, v, arg_paths[0])
            return _json.dumps(out)
        for tokens in token_paths:
            _py_remove_path(base, tokens)
        return _json.dumps(base)

    packed = F.to_json(F.array(*[
        F.coalesce(F.to_json(o), F.lit(_json.dumps(_MISSING_SENTINEL)))
        for o in ops
    ]).cast("array<string>"))

    def outer(texts):
        return run([_json.loads(t) for t in texts])

    udf = _json_udf("pick_omit", outer)
    result = udf(packed)
    return F.when(result.isNull(), F.lit(None).cast(V.VT)).otherwise(
        F.parse_json(result))


def _obj_unary(scope, cur, args, path, fn):
    ops = _operands(scope, cur, args, path)
    o = ops[0]
    m = _obj_or_error(o, arg_path(path, 0))
    return seq_strict(ops, path, fn(m))


@register("keys")
def op_keys(scope, cur, args, path):
    return _obj_unary(scope, cur, args, path, lambda m: V.arr_to_variant(
        F.transform(F.map_keys(m), lambda k: k.cast(V.VT))))


@register("values")
def op_values(scope, cur, args, path):
    return _obj_unary(scope, cur, args, path, lambda m: V.arr_to_variant(
        F.transform(F.map_values(m),
                    lambda v: F.coalesce(v, V.vnull()))))


@register("entries")
def op_entries(scope, cur, args, path):
    def build(m):
        entries = F.transform(
            F.map_entries(m),
            lambda e: F.parse_json(F.to_json(F.struct(
                e["key"].alias("key"),
                F.coalesce(e["value"], V.vnull()).alias("value"),
            ))))
        return V.arr_to_variant(entries)
    return _obj_unary(scope, cur, args, path, build)


@register("len")
def op_len(scope, cur, args, path):
    """chars of string / array len / object size (``transform.rs:4671-4719``)."""
    ops = _operands(scope, cur, args, path)
    o = ops[0]
    result = (
        F.when(V.is_string(o), F.length(o.try_cast("string")).cast("long"))
        .when(V.is_array(o), F.size(V.as_array(o)).cast("long"))
        .when(V.is_object(o), F.size(V.as_map(o)).cast("long"))
        .otherwise(rerr("expr_error",
                        "expr arg must be string, array, or object",
                        arg_path(path, 0)).cast("long"))
    )
    return seq_strict(ops, path, result.cast(V.VT))


@register("from_entries")
def op_from_entries(scope, cur, args, path):
    """pairs ``[k,v]`` / ``{key,value}`` objects → object; or 2-arg
    ``(key, value)`` → single-entry object (``transform.rs:4721-4830``)."""
    ops = _operands(scope, cur, args, path)
    first = ops[0]
    if len(ops) == 2:
        key = V.to_string_strict(first, arg_path(path, 0))
        value = F.coalesce(ops[1], V.vnull())
        single = V.map_to_variant(F.map_from_arrays(F.array(key),
                                                    F.array(value)))
        return seq_strict([ops[0]], path, F.when(
            ops[1].isNull(), F.lit(None).cast(V.VT)).otherwise(single))

    items = V.as_array(first)
    base_tpl = str(arg_path(path, 0))

    def entry_pair(item, idx):
        # per-entry error attribution: the reference reports the
        # offending entry's index inside the array arg — e.g.
        # ``...expr.args[0][0]`` (transform_golden.rs fixture r08).
        # Enclosing map-body markers splice Column-side (round 8).
        base_parts = V.splice_markers(base_tpl) or [F.lit(base_tpl)]
        epath = F.concat(*base_parts, F.lit("["), idx.cast("string"),
                         F.lit("]"))
        pair = V.as_array(item)
        obj = V.as_map(item)
        pair_ok = pair.isNotNull() & (F.size(pair) == 2)

        def _key_str(kcol: Column, kp: Column) -> Column:
            # v1_value_to_string with the dynamic entry-key path
            # (``{entry}[0]`` / ``{entry}.key``)
            ok = V.is_string(kcol) | V.is_number(kcol) | V.is_bool(kcol)
            return F.when(~F.coalesce(ok, F.lit(False)),
                          rerr_dyn("expr_error",
                                   "value must be string/number/bool",
                                   kp).cast("string")) \
                    .otherwise(V.to_string_strict(kcol, path))

        key_from_pair = _key_str(F.try_element_at(pair, F.lit(1)),
                                 F.concat(epath, F.lit("[0]")))
        obj_key = F.try_element_at(obj, F.lit("key"))
        obj_val = F.try_element_at(obj, F.lit("value"))
        kpath = F.concat(epath, F.lit(".key"))
        key_from_obj = F.when(
            obj_key.isNull(),
            # absent key vs JSON-null key are distinct errors at the
            # entry's .key path (transform.rs:4776-4791)
            rerr_dyn("expr_error", "entry must contain key",
                     kpath).cast("string")
        ).when(
            V.is_vnull(obj_key),
            rerr_dyn("expr_error", "entry key must not be null",
                     kpath).cast("string")
        ).otherwise(_key_str(obj_key, kpath))
        return F.struct(
            F.when(pair.isNotNull() & pair_ok, key_from_pair)
            .when(pair.isNotNull(),
                  rerr_dyn("expr_error",
                           "entries must have exactly two items",
                           epath).cast("string"))
            .when(obj.isNotNull(), key_from_obj)
            .otherwise(rerr_dyn("expr_error",
                                "entries must be arrays or objects",
                                epath).cast("string")).alias("key"),
            F.when(pair.isNotNull(),
                   F.coalesce(F.try_element_at(pair, F.lit(2)), V.vnull()))
            .otherwise(F.when(obj_val.isNull(),
                              rerr_dyn("expr_error",
                                       "entry must contain value",
                                       F.concat(epath, F.lit(".value"))
                                       ).cast(V.VT))
                       .otherwise(obj_val)).alias("value"),
        )
    built = V.map_to_variant(
        F.map_from_entries(F.transform(items, entry_pair)))
    result = (
        F.when(V.is_object(first), first)
        .when(V.is_array(first), built)
        .otherwise(rerr("expr_error", "expr arg must be object or array",
                        arg_path(path, 0)).cast(V.VT))
    )
    return seq_strict(ops, path, result)


def _make_object_flatten(path):
    """``flatten_object`` (``transform.rs:5077-5143``): dotted keys are
    bracket-quoted in the flat path; bracket/empty keys error; empty
    objects stay as ``{}`` leaves."""
    def seg(prefix, k):
        if k == "":
            raise _py_err("expr_error",
                          "object_flatten does not support empty keys", path)
        if "[" in k or "]" in k:
            raise _py_err(
                "expr_error",
                "object_flatten does not support keys with '[' or ']'", path)
        if "." in k:
            escaped = k.replace("\\", "\\\\").replace('"', '\\"')
            return prefix + f'["{escaped}"]'
        return f"{prefix}.{k}" if prefix else k

    def flatten(obj):
        if not isinstance(obj, dict):
            raise _py_err("expr_error", "expr arg must be object", path)
        out = {}
        def walk(prefix, m):
            for k, v in m.items():
                p = seg(prefix, k)
                if isinstance(v, dict) and v:
                    walk(p, v)
                else:
                    out[p] = v
        walk("", obj)
        return _json.dumps(out)
    return flatten


def _make_object_unflatten(path):
    def unflatten(obj):
        if not isinstance(obj, dict):
            raise _py_err("expr_error", "expr arg must be object", path)
        from ..paths import Index as PIndex
        from ..paths import parse_path as pp
        root = {}
        seen = []
        for key, value in obj.items():
            try:
                tokens = pp(key, error_code="expr_error")
            except RuleError as e:
                raise _py_err("expr_error", str(e), path)
            if any(isinstance(t, PIndex) for t in tokens):
                raise _py_err("expr_error",
                              "array indexes are not allowed in path", path)
            names = [t.name for t in tokens]
            for s in seen:
                shorter, longer = sorted((s, names), key=len)
                if longer[:len(shorter)] == shorter:
                    raise _py_err("expr_error",
                                  "path conflicts with another path", path)
            seen.append(names)
            curm = root
            for name in names[:-1]:
                nxt = curm.setdefault(name, {})
                if not isinstance(nxt, dict):
                    raise _py_err("expr_error",
                                  "path conflicts with another path", path)
                curm = nxt
            curm[names[-1]] = value
        return _json.dumps(root)
    return unflatten


def _obj_unary_udf(scope, cur, args, path, make_fn):
    ops = _operands(scope, cur, args, path)
    o = ops[0]
    # operand-attributed plain-string path (v1: ...expr.args[0]); the
    # closure must never pickle an OpPath
    udf = _json_udf("obj_op", make_fn(str(arg_path(path, 0))))
    result = F.parse_json(udf(F.to_json(o)))
    return seq_strict(ops, path, result)


@register("object_flatten")
def op_object_flatten(scope, cur, args, path):
    """nested object → flat dotted-path keys (``transform.rs:4832-4856``);
    pandas-UDF slow path (unbounded recursion)."""
    return _obj_unary_udf(scope, cur, args, path, _make_object_flatten)


@register("object_unflatten")
def op_object_unflatten(scope, cur, args, path):
    """inverse of object_flatten; index paths & conflicts error
    (``transform.rs:4858-4913``)."""
    return _obj_unary_udf(scope, cur, args, path, _make_object_unflatten)
