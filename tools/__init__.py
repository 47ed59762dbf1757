"""Command-line tools that run against the checkout they live in."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def export_checkout() -> None:
    """Put the checkout on ``PYTHONPATH``, not only on this process's
    ``sys.path``: Spark's Python workers import the package too (a
    pandas UDF pickles its functions by reference), and they see the
    environment, not the driver's ``sys.path``. Call before the first
    Spark session starts, or a tool run from outside the checkout fails
    every query whose plan starts a Python worker."""
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
             if p]
    if ROOT not in paths:
        os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, *paths])
