from .audit import PlanAudit, plan_audit
from .planner import (
    BloomJoinReport,
    choose_prefilter_target,
    resolve_join_columns,
    should_skip_prefilter,
    validate_join_inputs,
)

__all__ = [
    "PlanAudit",
    "plan_audit",
    "BloomJoinReport",
    "choose_prefilter_target",
    "resolve_join_columns",
    "should_skip_prefilter",
    "validate_join_inputs",
]
