"""Declared query surface (SURVEY.md §2): importing this package populates
the QUERIES/ORACLES registries consumed by ``__spark_entry__`` and
``bench.py``."""

import os

from .base import ORACLES, QUERIES, load  # noqa: F401
from . import (  # noqa: F401,E402
    engine_q,
    explode_q,
    functions_q,
    geo_q,
    llm_q,
    relational,
    sources_q,
    sql_q,
    streaming_q,
    udf_q,
    windows_q,
)

# The driver's correctness gate consumes the first 50 registry entries in
# order. The rotation is GENERATED, not hand-maintained (VERDICT r6 #3):
# ``tools/next_window.py`` reads CORRECTNESS_r*.json and emits
# ``verify_window.txt`` — never-driver-checked gates first, then stalest
# evidence first. Re-run the tool (committing the new file) whenever a
# round's CORRECTNESS lands or a new gate is registered.
_WINDOW_FILE = os.path.join(os.path.dirname(__file__), "verify_window.txt")


def window_names() -> list[str]:
    """The gate names in ``verify_window.txt``, in file order (comment
    lines skipped). Raises ``OSError`` if the file is missing."""
    with open(_WINDOW_FILE) as fh:
        return [line.strip() for line in fh
                if line.strip() and not line.startswith("#")]


def _reorder() -> None:
    try:
        window = window_names()
    except OSError:
        window = []
    snapshot = dict(QUERIES)
    QUERIES.clear()
    for name in window:
        if name in snapshot:
            QUERIES[name] = snapshot.pop(name)
    QUERIES.update(snapshot)


_reorder()

__all__ = ["QUERIES", "ORACLES", "load", "window_names"]
