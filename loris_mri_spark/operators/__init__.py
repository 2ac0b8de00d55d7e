"""Custom operators (SURVEY §2.3, §2.9, §7.1) — each is a composition of
DataFrame primitives, not an RDD/imperative translation of the reference."""

from loris_mri_spark.operators.asof_join import asof_join
from loris_mri_spark.operators.get_or_create import get_or_create
from loris_mri_spark.operators.protocol_match import (
    ExactSpec,
    PrioritySpec,
    RangeSpec,
    RegexSpec,
    identify_protocol,
)
from loris_mri_spark.operators.qc_checks import run_qc_checks

__all__ = [
    "asof_join",
    "get_or_create",
    "identify_protocol",
    "ExactSpec",
    "PrioritySpec",
    "RangeSpec",
    "RegexSpec",
    "run_qc_checks",
]
