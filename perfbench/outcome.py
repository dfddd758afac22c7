"""What one workload run hands back to the command line."""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    setup_cpu_s: float = 0.0  # the workload's own set-up, CPU seconds (session start excluded)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    notes: list = field(default_factory=list)
    problems: list = field(default_factory=list)

    def record(self, problems: list[str]) -> None:
        """Count one checked operation; any problem makes it a failure."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def overhead(self, untraced_op_s: float, traced_op_s: float) -> None:
        self.layer["trace.untraced_op_s"] = untraced_op_s
        self.layer["trace.traced_op_s"] = traced_op_s
        self.layer["trace.overhead_s"] = traced_op_s - untraced_op_s
