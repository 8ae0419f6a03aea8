"""Keep the loop conf policy in one place: plans/scope.py's loop_scope
is the only code that sets or reads the superstep-loop session conf
(AQE on/off, shuffle partitions). An operator that needs it opens a
``loop_scope`` instead of saving, setting and restoring the conf itself
— the hand-rolled copies drifted apart and leaked on exceptions."""

from __future__ import annotations

import pathlib
import re

OPERATORS = (
    pathlib.Path(__file__).parent.parent
    / "cim_framework_graph_partitioning_spark"
    / "operators"
)

BANNED = [
    re.compile(r"\bconf\.set\("),
    re.compile(r"spark\.sql\.shuffle\.partitions"),
    re.compile(r"spark\.sql\.adaptive\.enabled"),
]


def test_operators_leave_loop_conf_to_loop_scope():
    offenders = []
    for path in sorted(OPERATORS.rglob("*.py")):
        for i, text in enumerate(path.read_text().splitlines(), start=1):
            for rx in BANNED:
                for m in rx.finditer(text):
                    offenders.append(f"{path.name}:{i}:{m.group(0)}")
    assert not offenders, f"loop conf handled outside plans/scope.py: {offenders}"
