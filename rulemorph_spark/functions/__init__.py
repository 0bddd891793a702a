"""Typed-column operator library — the 100 TB scale path.

The rule engine (``rulemorph_spark.compiler``) interprets dynamic JSON
records through variant columns; this package holds the operators the
declared query surface (``__spark_entry__.py``) and ``bench.py`` run over
**typed** DataFrame columns, where Catalyst gets full predicate
pushdown, column pruning and whole-stage codegen: scalar ops with the
reference's edge semantics (``scalar``), as-of / interval / salted
joins and the Bloom semi/anti router (``relational``), Bloom-filter
sketches (``sketches``), the adaptive small-scan spread (``spread``)
and plan diagnostics (``diag``).
"""

from .scalar import (pad_end, pad_start, replace_first, round_half_away,
                     strict_bool, strict_int, to_base)
from .relational import (asof_join, bloom_route, bloom_split,
                         range_join_binned, salted_join)
from .sketches import bloom_build, bloom_might_contain, bloom_params

__all__ = [
    "replace_first", "pad_start", "pad_end",
    "round_half_away", "to_base", "strict_int", "strict_bool",
    "asof_join", "range_join_binned", "salted_join",
    "bloom_route", "bloom_split",
    "bloom_build", "bloom_might_contain", "bloom_params",
]
