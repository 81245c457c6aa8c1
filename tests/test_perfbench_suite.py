"""perfbench's own tests (perfbench/tests) run in the tier-1 suite.

The benchmark drives the engine through package internals: the traced
run's layered conversion wraps protowire's encoders by name and
monkeypatches the protobuf writer's file opener. A rename that breaks
those hooks would otherwise surface only in a traced benchmark run.
The suite runs in a subprocess from the checkout root, the way its
README runs it, so its fixtures and imports see the same tree.
"""

from __future__ import annotations

import os
import subprocess
import sys

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_perfbench_suite_passes():
    proc = subprocess.run(
        [sys.executable, "-m", "pytest", "perfbench/tests", "-q",
         "-p", "no:cacheprovider"],
        cwd=_ROOT, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-2000:]
