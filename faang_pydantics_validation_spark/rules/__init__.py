from .spec import RuleSpec, Severity, Tier, SENTINELS, MISSING_VALUE_POLICY
from .compiler import compile_row_rules

__all__ = [
    "RuleSpec",
    "Severity",
    "Tier",
    "SENTINELS",
    "MISSING_VALUE_POLICY",
    "compile_row_rules",
]
