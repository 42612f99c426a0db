from .audit import PlanAudit, plan_audit
from .planner import (
    BloomJoinReport,
    choose_prefilter_target,
    resolve_join_columns,
    should_skip_prefilter,
    validate_join_inputs,
)
from .sizing import Size, size

__all__ = [
    "PlanAudit",
    "plan_audit",
    "Size",
    "size",
    "BloomJoinReport",
    "choose_prefilter_target",
    "resolve_join_columns",
    "should_skip_prefilter",
    "validate_join_inputs",
]
