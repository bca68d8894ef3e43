"""Source-lint pins (no Spark session).

``tokens()`` without ``drop_empty=True`` inherits the
empty-string-matches-empty-doc bug class the r10 probe found (an empty
document tokenizes to ``[""]``, a one-empty-token array that matches
other empty docs in shingle/minhash/count paths). New gate code must
pass ``drop_empty=True``; the 16 legacy sites below (all in
``llm_q.py``, written before the r10 finding, each individually audited
as benign for its fixture — VERDICT r11 What's-wrong #3 / r12 #2) are
FROZEN by per-file count. Converting a legacy site lowers the count
(tighten the freeze then); adding a bare site anywhere fails here.
"""

import glob
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERIES_DIR = os.path.join(REPO, "puffbird_spark", "queries")

# frozen legacy allowlist: basename -> number of bare tokens() calls
_LEGACY_BARE_TOKENS = {"llm_q.py": 16}


def _bare_token_calls(src: str):
    """Yield each ``tokens(...)`` call (balanced-paren scan, so a
    drop_empty on a wrapped line still counts as covered) that does
    not pass ``drop_empty``."""
    for m in re.finditer(r"\btokens\(", src):
        i, depth = m.end(), 1
        while depth and i < len(src):
            if src[i] == "(":
                depth += 1
            elif src[i] == ")":
                depth -= 1
            i += 1
        call = src[m.start():i]
        if "drop_empty" not in call:
            yield src[:m.start()].count("\n") + 1, call


def test_queries_tokens_require_drop_empty():
    counts = {}
    details = {}
    for path in sorted(glob.glob(os.path.join(QUERIES_DIR, "*.py"))):
        name = os.path.basename(path)
        with open(path) as fh:
            src = fh.read()
        found = list(_bare_token_calls(src))
        if found:
            counts[name] = len(found)
            details[name] = [line for line, _ in found]
    for name, n in counts.items():
        allowed = _LEGACY_BARE_TOKENS.get(name, 0)
        assert n <= allowed, (
            f"{name} has {n} bare tokens() call(s) at lines "
            f"{details[name]} but only {allowed} frozen legacy site(s) — "
            f"new code must pass drop_empty=True (r10 probe bug class)")


def test_fleiss_fixture_invariants():
    """ADVICE r12: the eval_fleiss_kappa gate's fixture (event_id div 4
    as the unit) satisfies fleiss_kappa's fixed-panel contract only if
    each driver SF's events table (a) has a row count divisible by 4,
    (b) has contiguous non-negative event_ids 0..N-1 (so every unit
    gets exactly 4 ratings), and (c) never NULLs event_type (the
    operator drops NULL values, the oracle does not). Pin the
    invariants so a data-generator change fails HERE, loudly, instead
    of as a ValueError inside the driver's window run."""
    import duckdb

    for sf in ("sf0.001", "sf0.01"):
        path = f"/root/testdata/{sf}/events.parquet"
        if not os.path.exists(path):
            continue
        con = duckdb.connect()
        n, nulls, lo, hi, distinct = con.execute(
            f"SELECT COUNT(*), SUM(CASE WHEN event_type IS NULL THEN 1 "
            f"ELSE 0 END), MIN(event_id), MAX(event_id), "
            f"COUNT(DISTINCT event_id) FROM '{path}'").fetchone()
        assert n % 4 == 0, (sf, n, "events count must be a multiple of 4")
        assert nulls == 0, (sf, "event_type must be non-null")
        assert (lo, hi, distinct) == (0, n - 1, n), (
            sf, "event_id must be contiguous 0..N-1 for 4-per-unit panels")


def test_legacy_allowlist_not_stale():
    """The freeze must not drift ABOVE reality either — if legacy sites
    get converted, tighten the allowlist so it cannot quietly re-grow."""
    for name, allowed in _LEGACY_BARE_TOKENS.items():
        path = os.path.join(QUERIES_DIR, name)
        with open(path) as fh:
            n = len(list(_bare_token_calls(fh.read())))
        assert n == allowed, (
            f"{name}: allowlist says {allowed} legacy sites, found {n} — "
            f"update _LEGACY_BARE_TOKENS to match")


def test_graph_round_loops_use_iterate_helper():
    """Every iterative graph operator runs its rounds through
    ``operators/graph.py::_iterate``, which checkpoints each round and
    releases the previous one. A ``localCheckpoint`` inside a ``for`` or
    ``while`` body anywhere else in the module is a hand-rolled round
    loop that pins one checkpoint per round and never releases them."""
    import ast

    path = os.path.join(REPO, "puffbird_spark", "operators", "graph.py")
    with open(path) as fh:
        tree = ast.parse(fh.read())

    def loop_checkpoints(node, in_loop=False):
        if isinstance(node, ast.FunctionDef) and node.name == "_iterate":
            return
        if (in_loop and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "localCheckpoint"):
            yield node.lineno
        loop = isinstance(node, (ast.For, ast.While))
        for field, value in ast.iter_fields(node):
            children = value if isinstance(value, list) else [value]
            for child in children:
                if isinstance(child, ast.AST):
                    yield from loop_checkpoints(
                        child, in_loop or (loop and field == "body"))

    found = list(loop_checkpoints(tree))
    assert not found, (
        f"localCheckpoint inside a round loop at graph.py lines {found} — "
        "run the rounds through _iterate")


def test_every_query_module_is_registered():
    """Every gate module under ``queries/`` is imported by the package,
    so every written gate is in the registry. A gate module that is not
    imported is dead weight that drifts out of sync with the oracle
    conventions, and a round-named module (``*_rNN``) is a staging file;
    gates belong in their family module."""
    import ast

    with open(os.path.join(QUERIES_DIR, "__init__.py")) as fh:
        tree = ast.parse(fh.read())
    imported = {
        alias.name for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom) and node.level == 1
        and node.module is None
        for alias in node.names
    }
    unregistered, round_named = [], []
    for path in sorted(glob.glob(os.path.join(QUERIES_DIR, "*.py"))):
        name = os.path.basename(path)[:-3]
        if re.search(r"_r\d+", name):
            round_named.append(name)
        with open(path) as fh:
            if "@query(" in fh.read() and name not in imported:
                unregistered.append(name)
    assert not unregistered, (
        f"gate modules not imported by queries/__init__.py: {unregistered}")
    assert not round_named, (
        f"round-named query modules: {round_named} — move the gates into "
        "their family module")
