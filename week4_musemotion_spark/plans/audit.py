"""Physical-plan text: the captured ``explain`` output that
``tools/audit_plans.py`` and ``tools/dump_plans.py`` read plan
properties from (scans, exchanges, broadcast joins, top-k fusion)."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """The physical plan as text (explain output, captured)."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()
