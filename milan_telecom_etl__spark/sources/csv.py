"""CSV sources (S1-S2, SURVEY.md §2.1).

The reference reads one daily CSV at a time in a driver loop
(reference src/etl.py:126-128,232-234). Spark-first: resolve the glob
driver-side (to preserve the reference's sorted-order + limit-files
semantics, S2 — reference src/etl.py:111-115,203-207), then hand the
*whole* path list to one spark.read.csv (`pipeline._load_fact`) —
Spark schedules one task per file/split, so the per-file loop
disappears and the read scales horizontally.
"""

from __future__ import annotations

import glob as _glob


def resolve_files(data_dir: str, pattern: str, limit_files: int | None = None) -> list[str]:
    """S2: deterministic file ordering + optional truncation
    (reference src/etl.py:111-115)."""
    files = sorted(_glob.glob(f"{data_dir}/{pattern}"))
    if limit_files is not None:
        files = files[:limit_files]
    return files
