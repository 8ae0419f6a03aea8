"""Engine configuration.

The reference keeps config as mutable module globals consumed via
``import cimpara as cp`` (reference: cimpara.py:6-29, run.py:56-63).
Here each operator takes its tunables as keyword arguments (the CLI in
``main.py`` maps flags onto them) and the session-wide knobs live in
Spark conf (``session.py``), sized from ``default_parallelism``.
"""

from __future__ import annotations

import os


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
