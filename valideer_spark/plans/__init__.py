"""Check-plan compilation: validator tree → columnar Spark expressions."""

from .lowering import (
    VIOLATION_TYPE,
    Lowered,
    LoweringError,
    kernel_fallback,
    lower,
    translate_python_regex,
)
from .frame import FramePlan, compile_plan, expect_frame_schema, explode_violations

__all__ = [
    "VIOLATION_TYPE",
    "Lowered",
    "LoweringError",
    "kernel_fallback",
    "lower",
    "translate_python_regex",
    "FramePlan",
    "compile_plan",
    "expect_frame_schema",
    "explode_violations",
]
