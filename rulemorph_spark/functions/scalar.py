"""Typed-column scalar ops with the reference's edge semantics.

The string/number ops are the rule engines' own kernels
(``compiler/ops_bodies.py``) applied to plain typed columns — no
variant wrapping, fully codegen-able.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from ..compiler import ops_bodies as K
from ..compiler.backend import InlineColB

# the compiler's kernels, rendered as lambda-free Column trees
_B = InlineColB()


def _lit(x: Column | str | int) -> Column:
    return x if isinstance(x, Column) else F.lit(x)


def replace_first(s: Column, pattern: Column | str,
                  replacement: Column | str) -> Column:
    """Literal first-occurrence replace (``transform.rs:2223``)."""
    return K.replace_literal_first(_B, s, _lit(pattern), _lit(replacement))


def pad_start(s: Column, length: int, pad: str = " ") -> Column:
    """Left pad that never truncates; an empty pad is a no-op
    (``transform.rs:2356-2373``)."""
    return K.pad(_B, s, F.lit(length), F.lit(pad), True)


def pad_end(s: Column, length: int, pad: str = " ") -> Column:
    """Right pad that never truncates; an empty pad is a no-op."""
    return K.pad(_B, s, F.lit(length), F.lit(pad), False)


def round_half_away(d: Column, scale: int = 0) -> Column:
    """Half-away-from-zero (Rust ``f64::round``;
    ``transform.rs:2507-2512``); |x| >= 2^53 passes through."""
    return K.round_half_away(_B, d, F.lit(scale))


def to_base(n: Column, base: int) -> Column:
    """int → base-2..36 lowercase string with '-' for negatives
    (``to_radix_string``, ``transform.rs:5861-5888``)."""
    return K.to_base(_B, n, F.lit(base))


def strict_int(s: Column) -> Column:
    """int cast accepting integer strings / integral floats only — NULL
    otherwise (callers add raise_error when reference-strictness is
    needed)."""
    d = s.cast("string").try_cast("double")
    return F.when(d == F.floor(d), d.cast("long"))


def strict_bool(s: Column) -> Column:
    """bool only from true/false (case-insensitive) — never "1"
    (``transform.rs:5984-5994``)."""
    lowered = F.lower(s.cast("string"))
    return F.when(lowered.isin("true", "false"), lowered == "true")
