"""JSON/object ops: merge, get, pick, omit, keys/values/entries, len,
from_entries.

Reference semantics: ``transform.rs:4360-5057``.  Objects compile to
``map<string,variant>`` Columns.  Note: the variant encoding stores object
keys sorted, so key-enumeration order is sorted here where the reference
preserves insertion order (structural JSON equality is unaffected).

``deep_merge``, ``object_flatten``, ``object_unflatten`` and the
``pick``/``omit`` forms whose paths are not plain object keys known at
compile time have no Column body: a mapping that uses them evaluates
through the interpreter (``interp_bridge.needs_interp``).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..errors import RuleError
from ..expr_ir import Pipe, StartLiteral
from ..paths import Index, parse_path
from . import variant as V
from .core import arg_path, register, rerr, rerr_dyn
from .ops_scalar import _operands, seq_strict


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


def literal_key_paths(args):
    """The pick/omit path args as deduplicated token paths
    (``transform.rs:4964-5040``) when the Column bodies can take them:
    bare literal strings or string arrays that parse, hold no array
    index and do not conflict.  Else None: such a pick/omit evaluates
    through the interpreter (``interp_bridge.needs_interp``), which
    raises the reference's errors per record."""
    raw_paths: list[str] = []
    for a in args:
        lit = _literal_or_none(a)
        if isinstance(lit, str):
            raw_paths.append(lit)
        elif isinstance(lit, list) and all(isinstance(x, str) for x in lit):
            raw_paths.extend(lit)
        else:
            return None
    token_paths = []
    for p in raw_paths:
        try:
            tokens = parse_path(p, error_code="expr_error")
        except RuleError:
            return None
        if any(isinstance(tok, Index) for tok in tokens):
            return None
        if tokens in token_paths:
            continue
        for existing in token_paths:
            shorter, longer = sorted((existing, tokens), key=len)
            if longer[:len(shorter)] == shorter:
                return None
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


def _pick_tree(base: Column, token_paths) -> Column:
    """Reconstruct the picked sub-object from object-key paths."""
    groups: dict[str, list] = {}
    for tokens in token_paths:
        if tokens:
            groups.setdefault(tokens[0].name, []).append(tokens[1:])
    fields = []
    for key, rests in groups.items():
        child = V.get_key(base, key)
        if any(len(r) == 0 for r in rests):
            fields.append((key, child))
        else:
            fields.append((key, F.when(child.isNotNull(),
                                       _pick_tree(child, rests))))
    return _build_object(fields)

@register("pick")
def op_pick(scope, cur, args, path):
    ops = _operands(scope, cur, args, path)
    base = ops[0]
    picked = _pick_tree(base, literal_key_paths(args))
    p0 = arg_path(path, 0)
    return (
        F.when(base.isNull(), F.lit(None).cast(V.VT))
        .when(V.is_vnull(base),
              rerr("expr_error", "expr arg must not be null", p0).cast(V.VT))
        .when(~V.is_object(base),
              rerr("expr_error", "expr arg must be object", p0).cast(V.VT))
        .otherwise(picked)
    )


def _omit_tree(base_map: Column, token_paths) -> Column:
    """map<string,variant> with the given object-key paths removed."""
    top_removed = {t[0].name for t in token_paths if len(t) == 1}
    nested: dict[str, list] = {}
    for t in token_paths:
        if len(t) > 1:
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
            rewritten = V.map_to_variant(_omit_tree(child_obj, rests))
            return F.when((k == key) & child_obj.isNotNull(), rewritten) \
                    .otherwise(v)
        return rewrite

    for key, rests in nested.items():
        result = F.transform_values(result, rewriter(key, rests))
    return result


@register("omit")
def op_omit(scope, cur, args, path):
    ops = _operands(scope, cur, args, path)
    base = ops[0]
    omitted = V.map_to_variant(_omit_tree(base.try_cast(V.MAP_T),
                                          literal_key_paths(args)))
    p0 = arg_path(path, 0)
    return (
        F.when(base.isNull(), F.lit(None).cast(V.VT))
        .when(V.is_vnull(base),
              rerr("expr_error", "expr arg must not be null", p0).cast(V.VT))
        .when(~V.is_object(base),
              rerr("expr_error", "expr arg must be object", p0).cast(V.VT))
        .otherwise(omitted)
    )


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

