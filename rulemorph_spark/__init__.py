"""rulemorph-spark: a PySpark-native rule-driven transformation engine.

A from-scratch rebuild of the capabilities of ``vinhphatfsg/rulemorph``
(YAML-rule record transformation: CSV/JSON in → expression pipeline →
JSON out) as a **rule compiler** targeting Spark DataFrame/Column plans,
plus large-scale data-pipeline operators (dedup, nearest-neighbor search,
text analysis, quality filters, multimodal feature probes) the reference
lacks.
"""

from .engine import get_spark, transform
from .errors import RuleError, TransformEngineError
from .model import load_rule_file, parse_rule_file

__all__ = [
    "get_spark", "transform", "RuleError", "TransformEngineError",
    "load_rule_file", "parse_rule_file",
]
