"""Column-name rules: reserved names, level-column naming, identifier
sanitation, and datacol/indexcol collision checks.

Parity notes (behavior only, re-implemented for Spark):
- reserved columns: reference ``puffbird/frame.py:25-29`` rejects a small set
  of names the engine generates internally.
- level-column naming ``{datacol}_level{n}`` (or a shared-axis name):
  reference ``puffbird/frame.py:1104-1110`` (``_get_col_name``).
- identifier sanitation (replace non-identifier characters with spelled-out
  tokens): reference ``puffbird/frame.py:1113-1168``
  (``_label_character_replacement``).
- index-column names may not collide with the generated
  ``{datacol}(_level)?[0-9]*`` pattern of any datacol: reference
  ``puffbird/frame.py:33`` (``DATACOL_REGEX``) and ``frame.py:1347-1352``.
"""

from __future__ import annotations

import re

from .errors import PuffbirdSparkError

#: Names the engine reserves for generated columns.
#: (reference frame.py:25-29)
RESERVED_COLUMNS = frozenset({"apply_result", "index_level0"})

#: Default name for an auto-generated surrogate key at ingest.
DEFAULT_INDEX_COL = "index_level0"

# Spelled-out replacements for characters that are illegal in identifiers.
# Same contract as the reference's 25-rule table (frame.py:1113-1168):
# deterministic, reversible-in-spirit, produces a valid Python identifier.
_CHARACTER_REPLACEMENTS: dict[str, str] = {
    " ": "_",
    "-": "_MINUS_",
    "+": "_PLUS_",
    "*": "_STAR_",
    "/": "_SLASH_",
    "\\": "_BACKSLASH_",
    "#": "_HASH_",
    "@": "_AT_",
    "!": "_EXCLAMATION_",
    "?": "_QUESTION_",
    "%": "_PERCENT_",
    "&": "_AMPERSAND_",
    "$": "_DOLLAR_",
    "~": "_TILDE_",
    "^": "_CARET_",
    "=": "_EQUAL_",
    "<": "_LESS_",
    ">": "_GREATER_",
    "(": "_LPAREN_",
    ")": "_RPAREN_",
    "[": "_LBRACKET_",
    "]": "_RBRACKET_",
    "{": "_LBRACE_",
    "}": "_RBRACE_",
    ",": "_COMMA_",
    ";": "_SEMICOLON_",
    ":": "_COLON_",
    "'": "_QUOTE_",
    '"': "_DQUOTE_",
    ".": "_DOT_",
    "|": "_PIPE_",
    "`": "_BACKTICK_",
    "\n": "_NEWLINE_",
    "\t": "_TAB_",
}


def sanitize_identifier(label: object) -> str:
    """Coerce a column label to a valid identifier string.

    Non-string labels are stringified first (tuple labels from flattened
    MultiIndex columns are joined with ``_``). Mirrors the contract of
    reference ``frame.py:1113-1168``.
    """
    if isinstance(label, tuple):
        label = "_".join(str(part) for part in label)
    label = str(label)
    out = []
    for ch in label:
        if ch.isalnum() or ch == "_":
            out.append(ch)
        else:
            out.append(_CHARACTER_REPLACEMENTS.get(ch, f"_U{ord(ch)}_"))
    result = "".join(out)
    if not result:
        result = "_"
    if result[0].isdigit():
        result = "_" + result
    return result


def level_column(datacol: str, depth: int, shared_axes: dict[int, str] | None = None) -> str:
    """Name for the level column emitted at ``depth`` while exploding
    ``datacol``: the shared-axis name if declared for this depth, else
    ``{datacol}_level{depth}`` (reference frame.py:1104-1110)."""
    if shared_axes and depth in shared_axes:
        return shared_axes[depth]
    return f"{datacol}_level{depth}"


def datacol_pattern(datacol: str) -> re.Pattern[str]:
    """Pattern of names ``to_long`` may generate for ``datacol``
    (reference DATACOL_REGEX, frame.py:33)."""
    return re.compile(rf"^{re.escape(datacol)}(_level)?[0-9]*$")


def check_reserved(columns: list[str]) -> None:
    clash = RESERVED_COLUMNS & set(columns)
    if clash:
        raise PuffbirdSparkError(
            f"table has columns that are reserved: {sorted(clash)}"
        )


def check_collisions(datacols: list[str], indexcols: list[str]) -> None:
    """Reject index columns whose names collide with generated level-column
    names of any datacol (reference frame.py:1347-1352)."""
    for dc in datacols:
        pat = datacol_pattern(dc)
        for ic in indexcols:
            if ic != dc and pat.match(ic):
                raise PuffbirdSparkError(
                    f"index column {ic!r} collides with generated column names "
                    f"of data column {dc!r} (pattern {pat.pattern})"
                )
