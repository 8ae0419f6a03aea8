"""Keep the loop conf policy in one place: plans/scope.py's loop_scope
is the only code that sets or reads the superstep-loop session conf
(AQE on/off, shuffle partitions). An operator that needs it opens a
``loop_scope`` instead of saving, setting and restoring the conf itself
— the hand-rolled copies drifted apart and leaked on exceptions.

Likewise the weighted-matvec loop shape lives in plans/matvec.py."""

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


MATVEC_OPERATORS = ("pagerank.py", "hits.py", "centrality.py", "spreading.py")
LOOP_SHAPE = re.compile(r"\b(?:SuperstepRunner|Observation)\(")


def test_matvec_operators_leave_the_loop_to_plans_matvec():
    """The weighted-matvec operators parameterize plans/matvec.py's
    superstep; none of them builds its own runner loop or observed
    delta metric."""
    offenders = [
        f"{name}:{i}:{m.group(0)}"
        for name in MATVEC_OPERATORS
        for i, text in enumerate((OPERATORS / name).read_text().splitlines(), start=1)
        for m in LOOP_SHAPE.finditer(text)
    ]
    assert not offenders, f"matvec loop shape outside plans/matvec.py: {offenders}"
