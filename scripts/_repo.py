"""Make the repository importable from any working directory.

Import this first in a script under ``scripts/`` (Python puts the script's
own directory on ``sys.path``, so ``import _repo`` always resolves). It puts
the repository root on the driver's ``sys.path`` and on ``PYTHONPATH``,
which the Spark session started afterwards hands to its Python workers:
executor-side code (UDFs, Python data sources) imports the package too.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)
os.environ["PYTHONPATH"] = os.pathsep.join(
    p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
)
