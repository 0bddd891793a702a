"""Rule compiler: ``RuleFile`` → a DataFrame transformation.

The reference interprets rules per record (``transform.rs:363-531``); here
the whole rule becomes a short chain of Spark projections:

- every mapping compiles to a variant Column and is **materialized** as a
  real column (one narrow ``select`` each) — ``@out`` references then
  resolve to cheap attribute references instead of re-embedding the
  producing expression (the reference's validator guarantees acyclicity,
  ``v2_validator.rs:958-1007``, so mapping order is a valid projection
  order)
- ``record_when`` / step ``record_when`` fold into one boolean keep
  column → a single ``df.filter``
- ``branch`` compiles the referenced rule files up front and routes with
  ``F.when`` (static dispatch of the closed rule set)
- output objects assemble via ``to_json(struct(...))``, which drops
  missing (SQL NULL) keys and keeps explicit nulls — the missing/null
  tri-state collapses exactly at the output boundary

Catalyst's CollapseProject keeps multi-referenced non-cheap columns
materialized, so the optimized plan stays one codegen stage per rule
without re-inlining the trees.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..errors import RuleError, rule_error_to_transform
from ..expr_ir import is_v2_expr, parse_condition, parse_expr, v1_expr_to_pipe
from ..model import Mapping, RuleFile, load_rule_file
from ..paths import Key, parse_path
from . import variant as V
from .core import (Scope, compile_condition, compile_pipe, lenient_errors,
                   rerr, rule_version)

# ensure op modules register themselves
from . import ops_scalar  # noqa: F401
from . import ops_bodies  # noqa: F401
from . import ops_array  # noqa: F401
from . import ops_object  # noqa: F401
from . import ops_lookup  # noqa: F401
from . import ops_date  # noqa: F401


def _dep_names(deps) -> set:
    """Union of builder-column names referenced by ``deps`` items.

    Accepts handles returned by ``Builder.add`` (carry ``_rm_name``),
    composed Columns annotated with a ``_rm_names`` set, ``OutTree``
    (whose leaves are handles — tracked in ``dep_names``), plain name
    strings, and ``None`` (skipped).  Non-handle Columns (literals,
    base-df columns) contribute nothing."""
    out: set = set()
    for d in deps:
        if d is None:
            continue
        if isinstance(d, OutTree):
            out |= d.dep_names
        elif isinstance(d, str):
            out.add(d)
        else:
            # NB: Column.__getattr__ resolves unknown attributes as
            # field accesses (returns a Column) — read the instance
            # dict directly
            d_dict = getattr(d, "__dict__", None) or {}
            n = d_dict.get("_rm_name")
            if n is not None:
                out.add(n)
            ns = d_dict.get("_rm_names")
            if ns:
                out |= ns
    return out


class Builder:
    """Accumulates materialized columns onto a DataFrame.

    Adds are BATCHED: every ``df.select`` eagerly re-analyzes the whole
    accumulated plan JVM-side, so one select per mapping made rule
    compile O(mappings × plan-size) (t13's 14 mappings spent ~2 s in
    repeated analysis — round 8).  Columns queue up and flush as ONE
    projection; a flush happens early only when a newly added column
    references a PENDING name — projections within one select are
    parallel, so a dependent column needs the previous batch
    materialized first.

    Dependence is declared by the caller via ``deps`` (handles /
    ``OutTree`` / annotated Columns — see ``_dep_names``), which the
    rule compiler can enumerate exactly (``Scope.out_used`` records
    whether a compiled expression actually embedded ``@out``).  A
    caller that cannot enumerate its references passes ``deps=None``
    and pays a rendered-text scan of the new column for pending names
    (the pre-r9 behavior; ADVICE r8 #3 — the scan is a py4j toString
    of a potentially large tree per add)."""

    def __init__(self, df: DataFrame):
        self._df = df
        self._n = 0
        self._pending: list = []  # aliased Columns awaiting one select

    @property
    def df(self) -> DataFrame:
        self._flush()
        return self._df

    @df.setter
    def df(self, value: DataFrame):
        self._flush()
        self._df = value

    def _flush(self):
        # barrier for deferred SQL-function registration: the select
        # below (and anything the caller does with .df) analyzes
        # JVM-side and must be able to resolve every function name a
        # pending column references (sqlfn.deferred)
        from . import sqlfn
        sqlfn.flush(self._df.sparkSession)
        if self._pending:
            self._df = self._df.select("*", *[c for _, c in self._pending])
            self._pending = []

    def add(self, col: Column, tag: str = "m", deps=None) -> Column:
        name = f"__{tag}{self._n}__"
        self._n += 1
        if self._pending:
            pending = {n for n, _ in self._pending}
            if deps is None:
                text = str(col)
                hit = any(n in text for n in pending)
            else:
                hit = bool(_dep_names(deps) & pending)
            if hit:
                self._flush()
        self._pending.append((name, col.alias(name)))
        handle = F.col(name)
        handle._rm_name = name
        return handle


class OutTree:
    """Static tree of output targets → materialized Columns.

    ``dep_names`` (root-level) is the set of builder-column names the
    tree's leaves reference — what ``Builder.add(deps=[tree])`` uses to
    decide whether a flush is needed (only maintained on trees used as
    roots; recursion-internal child nodes don't need it)."""

    def __init__(self):
        self.children: dict[str, "OutTree | Column"] = {}
        self.dep_names: set = set()

    def set(self, tokens: list[str], col: Column, path: str):
        self.dep_names |= _dep_names([col])
        node = self
        for t in tokens[:-1]:
            child = node.children.get(t)
            if child is None:
                child = OutTree()
                node.children[t] = child
            elif not isinstance(child, OutTree):
                raise RuleError("target_error",
                                f"intermediate path {t!r} is not an object",
                                path)
            node = child
        leaf = tokens[-1]
        prev = node.children.get(leaf)
        if isinstance(prev, OutTree):
            raise RuleError("duplicate_target",
                            f"target {'.'.join(tokens)!r} conflicts", path)
        if prev is not None:
            # duplicate target: the reference's set_path runs ONLY when
            # the mapping output is present (missing → skip,
            # transform.rs:1006-1032) — a later mapping that is missing
            # on a row keeps the earlier value there (r7 endpoint-fuzz
            # divergence: last-wins dropped the earlier column).  The
            # earlier mapping still EVALUATES first (its errors fire
            # before the later mapping's value is consulted), so force
            # it via a zero-length probe instead of letting coalesce
            # skip it lazily.
            probe = F.coalesce(F.substring(F.to_json(prev), 1, 0),
                               F.lit(""))
            col = F.when(F.length(probe) >= 1,
                         F.raise_error(F.lit("unreachable probe"))
                         ).otherwise(F.coalesce(col, prev))
        node.children[leaf] = col

    def presence(self) -> Column:
        parts = []
        for child in self.children.values():
            if isinstance(child, OutTree):
                parts.append(child.presence())
            else:
                parts.append(child.isNotNull())
        result = F.lit(False)
        for p in parts:
            result = result | p
        return result

    def to_struct_json(self) -> Column:
        if not self.children:
            return F.lit("{}")
        return F.to_json(self.to_struct())

    def to_struct(self) -> Column:
        fields = []
        for name, child in self.children.items():
            if isinstance(child, OutTree):
                # sub-objects materialize only when a child is present
                # (set_path creates intermediates lazily, transform.rs:6075+)
                sub = F.when(child.presence(), child.to_struct())
                fields.append(sub.alias(name))
            else:
                fields.append(child.alias(name))
        return F.struct(*fields)

    def to_variant(self) -> Column:
        if not self.children:
            return V.lit_variant({})
        return F.parse_json(self.to_struct_json())

    def merged_with(self, other: "OutTree", cond: Column,
                    deep: bool) -> "OutTree":
        """Static tree merge: rows where ``cond`` holds take ``other``'s
        keys deep-merged over self (``transform.rs:533-564``)."""
        result = OutTree()
        result.dep_names = (self.dep_names | other.dep_names
                            | _dep_names([cond]))
        keys = list(self.children.keys()) + [
            k for k in other.children if k not in self.children]
        for k in keys:
            a = self.children.get(k)
            b = other.children.get(k)
            if b is None:
                result.children[k] = a
            elif a is None:
                if isinstance(b, OutTree):
                    result.children[k] = _gate_tree(b, cond)
                else:
                    result.children[k] = F.when(cond, b)
            elif deep and isinstance(a, OutTree) and isinstance(b, OutTree):
                result.children[k] = a.merged_with(b, cond, deep)
            else:
                av = a.to_variant() if isinstance(a, OutTree) else a
                bv = b.to_variant() if isinstance(b, OutTree) else b
                result.children[k] = F.when(cond & bv.isNotNull(), bv) \
                                      .otherwise(av)
        return result


def _gate_tree(tree: OutTree, cond: Column) -> OutTree:
    g = OutTree()
    for k, v in tree.children.items():
        if isinstance(v, OutTree):
            g.children[k] = _gate_tree(v, cond)
        else:
            g.children[k] = F.when(cond, v)
    return g


class CompiledRecordRule:
    def __init__(self, keep: Column, out_tree: OutTree, returned: Column,
                 returned_out: Column,
                 warn_flags: list[tuple[str, Column]] | None = None,
                 returned_names: list[str] | None = None,
                 finalized_return: str | None = None):
        self.keep = keep
        self.out_tree = out_tree
        self.returned = returned
        self.returned_out = returned_out
        # top-level output keys that exist only in `return:` branch
        # trees — the table path must materialize columns for these
        # (the document path reads them out of `returned_out` JSON)
        self.returned_names = returned_names or []
        # path of a `return: true` branch whose target ran finalize: on
        # its rows `returned_out` is an array or a wrap value, not a
        # record, so it has no per-key columns for the table path
        self.finalized_return = finalized_return
        # (rule path, boolean Column) — true on rows whose when/record_when
        # evaluation failed (reference converts those errors to warnings,
        # transform.rs:1041-1091)
        self.warn_flags = warn_flags or []

    def out_json(self) -> Column:
        normal = self.out_tree.to_struct_json()
        return F.when(self.returned, F.to_json(self.returned_out)) \
                .otherwise(normal)


class RuleCompiler:
    """Compiles one rule file (plus its branch-referenced rules)."""

    def __init__(self, rule: RuleFile, context=None, base_dir: str = ".",
                 context_col: Column | None = None):
        """``context_col``: the context as a run-time variant Column, in
        place of the compile-time ``context`` document (a cached service
        plan reads each request's context from its ``VALUES`` row);
        nothing then folds the context's value into the plan."""
        self.rule = rule
        self.context = context
        self.base_dir = base_dir
        self.context_col = context_col

    def _context(self) -> Column | None:
        if self.context_col is not None:
            return self.context_col
        return (V.lit_variant(self.context)
                if self.context is not None else None)

    # -- expression helpers -------------------------------------------

    def _expr_pipe(self, raw, path: str):
        # parse errors carry the mapping path (the reference reports e.g.
        # "mappings[0].expr" for a bad ref — v1_pipe_ref.rs:4-21)
        try:
            if self.rule.version >= 2 and is_v2_expr(raw):
                return parse_expr(raw)
            return v1_expr_to_pipe(raw)
        except RuleError as e:
            if e.path is None:
                ne = RuleError(e.code, e.message, path)
                # keep the V2ParseError variant for the transform
                # boundary's Display wrapper (errors.
                # rule_error_to_transform)
                ne.v2_variant = getattr(e, "v2_variant", None)
                raise ne from None
            raise

    def _compile_when(self, raw, scope: Scope, path: str) -> Column:
        """when/record_when → boolean Column; errors → NULL (warn+skip,
        ``transform.rs:1041-1091``)."""
        from .interp_bridge import (cond_needs_interp, needs_interp,
                                    when_value_column)
        with lenient_errors():
            try:
                if self.rule.version >= 2 and not (
                        isinstance(raw, dict) and
                        ("ref" in raw or ("op" in raw and "if" not in raw))):
                    cond = parse_condition(raw)
                    if cond_needs_interp(cond):
                        # an op only the interpreter implements:
                        # evaluate the condition through it
                        return when_value_column(raw, self.rule.version,
                                                 scope, path)
                    return compile_condition(cond, scope, path)
                # v1 path: expr must evaluate to a strict bool
                pipe = v1_expr_to_pipe(raw) if not is_v2_expr(raw) \
                    else parse_expr(raw)
                if needs_interp(pipe):
                    return when_value_column(raw, self.rule.version,
                                             scope, path)
                value = compile_pipe(pipe, scope, path)
                return F.when(V.is_bool(value), value.try_cast("boolean")) \
                        .otherwise(F.lit(None).cast("boolean"))
            except RuleError:
                # runtime-equivalent failure → warning + skip per record
                return F.lit(None).cast("boolean")

    # -- mapping compilation -------------------------------------------

    def _compile_mapping_value(self, mapping: Mapping, scope: Scope,
                               path: str) -> Column:
        if mapping.source is not None:
            value = self._resolve_source(mapping.source, scope, path)
        elif mapping.has_value:
            value = V.lit_variant(mapping.value)
        elif mapping.has_expr:
            pipe = self._expr_pipe(mapping.expr, f"{path}.expr")
            from .interp_bridge import mapping_value_column, needs_interp
            if needs_interp(pipe):
                # an op only the interpreter implements: evaluate the
                # whole mapping through it (oracle-exact)
                value = mapping_value_column(mapping.expr,
                                             self.rule.version, scope,
                                             f"{path}.expr")
            else:
                value = compile_pipe(pipe, scope, f"{path}.expr")
        else:
            raise RuleError("invalid_rule",
                            "mapping must define source, value, or expr",
                            path)

        # missing → default / required-error / skip (transform.rs:1006-1032)
        if mapping.has_default:
            on_missing = V.lit_variant(mapping.default)
        elif mapping.required:
            on_missing = rerr("missing_required", "required value is missing",
                              path).cast(V.VT)
        else:
            on_missing = F.lit(None).cast(V.VT)

        if mapping.required:
            on_null = rerr("missing_required", "required value is null",
                           path).cast(V.VT)
        else:
            on_null = V.vnull()

        if (mapping.value_type is None and not mapping.required
                and not mapping.has_default):
            # the plain-mapping finish is an IDENTITY (missing stays
            # SQL NULL, variant-null maps to a fresh variant null) —
            # skipping it drops the V.let lambda that kept otherwise
            # lambda-free projections out of whole-stage codegen
            # (round 9; the sqlfn-backed op set made this the common
            # fully-codegen shape)
            return value

        def finish(v):
            casted = v
            if mapping.value_type is not None:
                casted = self._cast(v, mapping.value_type, f"{path}.type")
            return (
                F.when(v.isNull(), on_missing)
                .when(V.is_vnull(v), on_null)
                .otherwise(casted)
            )

        return V.let(value, finish)

    def _cast(self, value: Column, type_name: str, path: str) -> Column:
        if type_name not in ("string", "int", "float", "bool"):
            raise RuleError("type_cast_failed",
                            "type must be string|int|float|bool", path)
        t = V.typeof(value)
        if type_name == "string":
            return V.to_string_strict(
                value, path, "failed to cast to string").cast(V.VT)
        if type_name == "int":
            d = value.try_cast("double")
            s_parsed = value.try_cast("string").try_cast("long")
            return (
                F.when(t == "BIGINT", value.try_cast("long").cast(V.VT))
                .when(V.is_number(value) & (d == F.floor(d)),
                      d.cast("long").cast(V.VT))
                .when(V.is_string(value) & s_parsed.isNotNull(),
                      s_parsed.cast(V.VT))
                .otherwise(rerr("type_cast_failed", "failed to cast to int",
                                path).cast(V.VT))
            )
        if type_name == "float":
            parsed = value.try_cast("string").try_cast("double")
            # JSON has no NaN/Infinity — a string parsing to one is a cast
            # failure (serde from_f64 → None, transform.rs:5962-5981)
            finite = parsed.isNotNull() & ~F.isnan(parsed) & \
                (F.abs(parsed) != F.lit(float("inf")))
            return (
                F.when(V.is_number(value), value.try_cast("double").cast(V.VT))
                .when(V.is_string(value) & finite, parsed.cast(V.VT))
                .otherwise(rerr("type_cast_failed", "failed to cast to float",
                                path).cast(V.VT))
            )
        lowered = F.lower(value.try_cast("string"))
        return (
            F.when(V.is_bool(value), value)
            .when(V.is_string(value) & lowered.isin("true", "false"),
                  (lowered == "true").cast(V.VT))
            .otherwise(rerr("type_cast_failed", "failed to cast to bool",
                            path).cast(V.VT))
        )

    def _resolve_source(self, source: str, scope: Scope,
                        path: str) -> Column:
        """``resolve_source`` (``transform.rs:1144-1175``): namespace-
        optional dot path; a bare single key means ``input.<key>``."""
        text = source
        if text.startswith("input."):
            ns, rest = "input", text[len("input."):]
        elif text.startswith("context."):
            ns, rest = "context", text[len("context."):]
        elif text.startswith("out."):
            ns, rest = "out", text[len("out."):]
        elif text in ("input", "context", "out"):
            ns, rest = text, ""
        else:
            if "." in text or "[" in text:
                raise RuleError(
                    "invalid_ref",
                    "source with dot paths must use an explicit namespace",
                    path)
            ns, rest = "input", text
        if ns == "out":
            scope.used_out()
        base = {"input": scope.input, "context": scope.context,
                "out": scope.out}[ns]
        if base is None:
            return V.missing()
        if rest == "":
            return base
        return V.navigate(base, parse_path(rest, error_code="invalid_ref"))

    # -- record-level compilation ---------------------------------------

    def compile(self, builder: Builder, input_col: Column) \
            -> CompiledRecordRule:
        r = self.rule
        flat = (r.steps is None and not r.has_record_when
                and not any(m.has_when for m in (r.mappings or [])))
        from .core import flat_rule
        from . import sqlfn
        spark = builder._df.sparkSession
        with rule_version(r.version), flat_rule(flat), \
                sqlfn.deferred(spark):
            return self._compile_inner(builder, input_col)

    def _compile_inner(self, builder: Builder,
                       input_col: Column) -> CompiledRecordRule:
        context_col = self._context()
        out_tree = OutTree()
        keep = F.lit(True)
        returned = F.lit(False)
        returned_out = F.lit(None).cast(V.VT)
        warn_flags: list[tuple[str, Column]] = []
        returned_names: list[str] = []
        finalized_return: str | None = None

        def scope():
            # fresh out_used cell per scope: after a compile, a truthy
            # cell means the expression embedded @out (→ the add must
            # declare the out_tree as a dependency)
            return Scope(input=input_col, context=context_col,
                         out=out_tree.to_variant(), locals={},
                         context_value=self.context, out_used=[])

        def out_dep(s):
            return out_tree if s.out_used else None

        if self.rule.has_record_when:
            s0 = scope()
            cond = builder.add(
                self._compile_when(self.rule.record_when, s0,
                                   "record_when"), "w",
                deps=[input_col, out_dep(s0)])
            warn_flags.append(("record_when", cond.isNull()))
            keep = builder.add(F.coalesce(cond, F.lit(False)), "k",
                               deps=[cond])

        def apply_mappings(mappings, base_path):
            nonlocal keep
            for i, m in enumerate(mappings):
                mpath = f"{base_path}[{i}]"
                tokens = parse_path(m.target, allow_index=False,
                                    error_code="invalid_target")
                names = [t.name for t in tokens if isinstance(t, Key)]
                s = scope()
                value = self._compile_mapping_value(m, s, mpath)
                # guard: filtered records / when-false / returned rows
                # never evaluate the value (and never raise)
                gate = keep & ~returned
                wcond = None
                if m.has_when:
                    wcond = builder.add(
                        self._compile_when(m.when, s, f"{mpath}.when"), "w",
                        deps=[input_col, out_dep(s)])
                    warn_flags.append(
                        (f"{mpath}.when", keep & wcond.isNull()))
                    gate = gate & F.coalesce(wcond, F.lit(False))
                materialized = builder.add(
                    F.when(gate, value), "m",
                    deps=[input_col, keep, returned, wcond, out_dep(s)])
                out_tree.set(names, materialized, mpath)

        if self.rule.steps is not None:
            for si, step in enumerate(self.rule.steps):
                spath = f"steps[{si}]"
                if step.mappings is not None:
                    apply_mappings(step.mappings, f"{spath}.mappings")
                if step.has_record_when:
                    sw = scope()
                    cond = builder.add(
                        self._compile_when(step.record_when, sw,
                                           f"{spath}.record_when"), "w",
                        deps=[input_col, out_dep(sw)])
                    warn_flags.append(
                        (f"{spath}.record_when", keep & cond.isNull()))
                    keep = builder.add(
                        keep & (returned | F.coalesce(cond, F.lit(False))),
                        "k", deps=[keep, returned, cond])
                if step.asserts is not None:
                    for ai, a in enumerate(step.asserts):
                        apath = f"{spath}.asserts[{ai}]"
                        sa = scope()
                        cond = self._compile_when(a.when, sa, apath)
                        guard = F.when(
                            keep & ~returned &
                            ~F.coalesce(cond, F.lit(False)),
                            V.raise_err("assert_failed",
                                        f"assert failed: "
                                        f"{a.error.code}: "
                                        f"{a.error.message}",
                                        apath, a.error.code).cast("boolean")
                        ).otherwise(F.lit(True))
                        keep = builder.add(
                            keep & guard, "k",
                            deps=[input_col, keep, returned, out_dep(sa)])
                if step.branch is not None:
                    keep, returned, returned_out, out_tree, fin_ret = \
                        self._compile_branch(builder, step.branch, spath,
                                             scope, keep, returned,
                                             returned_out, out_tree,
                                             input_col, returned_names)
                    finalized_return = finalized_return or fin_ret
        else:
            apply_mappings(self.rule.mappings, "mappings")

        return CompiledRecordRule(keep=keep, out_tree=out_tree,
                                  returned=returned,
                                  returned_out=returned_out,
                                  warn_flags=warn_flags,
                                  returned_names=returned_names,
                                  finalized_return=finalized_return)

    def _compile_branch(self, builder: Builder, branch, spath, scope_fn,
                        keep, returned, returned_out, out_tree, input_col,
                        returned_names: list[str] | None = None):
        """branch step (``transform.rs:491-527``): the referenced rule runs
        with **@input = the current @out** (``transform.rs:509``) and its
        own per-record finalize (``transform.rs:288-308``); the result is
        deep-merged into the output or returned outright.  The last item
        returned is ``spath`` when a returned target's output went
        through finalize (``CompiledRecordRule.finalized_return``)."""
        sb = scope_fn()
        cond = self._compile_when(branch.when, sb, f"{spath}.branch")
        cond = builder.add(F.coalesce(cond, F.lit(False)), "b",
                           deps=[input_col,
                                 out_tree if sb.out_used else None])
        branch_input = builder.add(out_tree.to_variant(), "bi",
                                   deps=[out_tree])

        def compile_target(rel_path):
            if rel_path is None:
                return None
            full = rel_path if os.path.isabs(rel_path) \
                else os.path.join(self.base_dir, rel_path)
            sub_rule = load_rule_file(full)
            # nested branch paths resolve relative to the referenced
            # rule file's directory (transform.rs:566-601)
            sub = RuleCompiler(sub_rule, context=self.context,
                               base_dir=os.path.dirname(full),
                               context_col=self.context_col)
            compiled = sub.compile(builder, branch_input)
            if sub_rule.finalize is not None and not branch.return_:
                raise RuleError(
                    "invalid_rule",
                    "branch rules with finalize require return: true",
                    spath)
            # a target's output is not a record when it ran finalize,
            # or returned such an output itself
            finalized = (sub_rule.finalize is not None
                         or compiled.finalized_return is not None)
            return (compiled, sub.finalize_record(builder, compiled),
                    compiled.keep, finalized)

        then_c = compile_target(branch.then)
        else_c = compile_target(branch.else_)
        finalized = branch.return_ and any(
            t is not None and t[3] for t in (then_c, else_c))

        active = keep & ~returned
        for taken, target in ((cond, then_c), (~cond, else_c)):
            if target is None:
                continue
            compiled, out_col, sub_keep, _ = target
            gate = active & taken & sub_keep
            gate_deps = [keep, returned, cond, sub_keep]
            if branch.return_:
                returned_out = builder.add(
                    F.when(gate & ~returned, out_col)
                    .otherwise(returned_out), "r",
                    deps=gate_deps + [out_col, returned_out])
                returned = builder.add(returned | gate, "rf",
                                       deps=gate_deps)
                if returned_names is not None:
                    for name in (list(compiled.out_tree.children)
                                 + compiled.returned_names):
                        if name not in returned_names:
                            returned_names.append(name)
            else:
                out_tree = out_tree.merged_with(compiled.out_tree, gate,
                                                deep=True)
                out_tree.dep_names |= _dep_names(gate_deps)
            keep = builder.add(keep & (~(active & taken) | sub_keep), "k",
                               deps=gate_deps)
        return (keep, returned, returned_out, out_tree,
                spath if finalized else None)

    def finalize_record(self, builder: Builder,
                        compiled: CompiledRecordRule) -> Column:
        """The rule's output for one record, materialized as a variant
        column (``transform_record_with_warnings_inner``,
        ``transform.rs:288-308``); a record is dropped, with no output,
        only where ``compiled.keep`` is false.

        Without ``finalize`` the output is the record.  Otherwise
        finalize applies to the singleton array: filter, then sort,
        offset and limit leave ``[record]`` or ``[]``, and the output is
        that array or the ``wrap`` value over it.  Finalize errors are
        hard, and only a kept record raises them."""
        keep = compiled.keep
        deps = [compiled.out_tree, keep, compiled.returned,
                compiled.returned_out]
        out_v = F.parse_json(compiled.out_json())
        fin = self.rule.finalize
        if fin is None:
            return builder.add(out_v, "bo", deps=deps)
        from . import sqlfn
        from .interp_bridge import (cond_needs_interp,
                                    finalize_filter_column,
                                    parse_finalize_filter)
        with rule_version(self.rule.version), \
                sqlfn.deferred(builder._df.sparkSession):
            # filter, sort key and array all read the record: parse its
            # JSON once
            out_v = builder.add(out_v, "fo", deps=deps)
            # the record is still in the array
            alive = keep
            if fin.has_filter:
                # guarded so the condition only evaluates for a kept
                # record (transform.rs:296-299).  A condition that
                # fails to parse raises per kept record: the reference
                # parses it inside the per-record apply_finalize.
                icond, perr = parse_finalize_filter(fin.filter)
                if perr is not None:
                    cond = F.when(keep, V.raise_err(
                        perr[0], perr[1], "finalize.filter").cast("boolean"))
                elif cond_needs_interp(cond_ir := parse_condition(fin.filter)):
                    cond = finalize_filter_column(
                        icond, out_v, F.lit(0), self.context,
                        singleton_out=True, guard=keep,
                        context_col=self.context_col)
                else:
                    scope = Scope(input=out_v, context=self._context(),
                                  out=F.array(out_v).cast(V.VT),
                                  item=out_v, item_index=F.lit(0),
                                  pipe=out_v)
                    cond = F.when(keep, compile_condition(
                        cond_ir, scope, "finalize.filter"))
                alive = alive & F.coalesce(cond, F.lit(False))
            if fin.sort is not None:
                # `&` short-circuits: only a record still in the array
                # checks its key
                alive = alive & checked_sort_key(out_v,
                                                 fin.sort.by).isNotNull()
            arr = F.when(alive, F.array(out_v)).otherwise(F.array())
            if fin.offset or fin.limit is not None:
                # records[offset:][:limit]; the array holds one record
                # at most
                arr = F.slice(arr, max(fin.offset or 0, 0) + 1,
                              1 if fin.limit is None else max(fin.limit, 0))
            out = arr.cast(V.VT)
            if fin.has_wrap:
                # a wrap may read neither @out nor @input: the size test
                # still evaluates the array, and with it the filter and
                # the sort check
                out = F.when(F.size(arr) >= 0, compile_wrap_template(
                    fin.wrap, out, self._context(), "finalize.wrap"))
            return builder.add(out, "bo", deps=deps + [out_v])


def checked_sort_key(item: Column, by: str) -> Column:
    """``finalize.sort.by`` read from ``item``: the key, never NULL; a
    missing key, or one that is not a string, number or bool, raises
    (``transform.rs:663-669``)."""
    key = V.navigate(item, parse_path(by, error_code="expr_error"))
    ok = V.is_number(key) | V.is_string(key) | V.is_bool(key)
    return (F.when(key.isNull(),
                   V.raise_err("invalid_ref",
                               "finalize.sort.by path not found",
                               "finalize.sort.by"))
            .when(~ok, V.raise_err("expr_error",
                                   "sort key must be string/number/bool",
                                   "finalize.sort.by"))
            .otherwise(key))


def compile_wrap_template(wrap, arr: Column, context: Column | None,
                          path: str) -> Column:
    """``finalize.wrap`` (``transform.rs:716-749``) → one variant Column.
    Objects nest and come out key-sorted, like the reference's
    ``BTreeMap``; every other node is a v2 expr with ``@input`` and
    ``@out`` bound to ``arr``, the output array; missing → null.  A
    leaf holding an op only the interpreter implements evaluates
    through it (``interp_bridge.wrap_value_column``)."""
    if isinstance(wrap, dict):
        if not wrap:
            return V.lit_variant({})
        return F.parse_json(F.to_json(F.struct(*[
            compile_wrap_template(v, arr, context, f"{path}.{k}").alias(k)
            for k, v in wrap.items()])))
    try:
        pipe = parse_expr(wrap)
    except RuleError as e:
        # the reference parses a leaf as it evaluates it: the parse
        # error raises where the value is made
        err = rule_error_to_transform(e)
        if err is None:
            raise
        return V.raise_err("expr_error", f"invalid v2 expr: {err.message}",
                           path).cast(V.VT)
    from .interp_bridge import needs_interp, wrap_value_column
    scope = Scope(input=arr, out=arr, context=context)
    value = (wrap_value_column(wrap, scope, path) if needs_interp(pipe)
             else compile_pipe(pipe, scope, path))
    return F.coalesce(value, V.vnull())
