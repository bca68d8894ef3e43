"""Verify-window rotation invariants (VERDICT r6 #2, #3; r8 #1, #7).

The driver checks the first 50 registry entries each round; the rotation is
generated by ``tools/next_window.py``. These tests pin the tool's ordering
rule (red requeue first, then the reserved stale quota, then never-checked,
then stalest evidence) and assert the committed window file matches what
the tool would emit from the committed correctness history.
"""

import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))
sys.path.insert(0, REPO)

from next_window import (  # noqa: E402
    SLOTS,
    WINDOW_PATH,
    compute_window,
    load_history,
    load_latest_rows,
    red_names,
)


def test_never_checked_precede_stale():
    registry = ["a", "b", "c", "d", "e"]
    history = {"a": 3, "c": 2}
    window = compute_window(registry, history, slots=5)
    assert window == ["b", "d", "e", "c", "a"]


def test_stale_ordered_oldest_first_name_tiebreak():
    registry = ["x", "y", "z"]
    history = {"x": 5, "y": 4, "z": 4}
    assert compute_window(registry, history, slots=3) == ["y", "z", "x"]


def test_defer_pushes_to_group_end_never_drops():
    registry = ["a", "b", "c"]
    window = compute_window(registry, {}, slots=3, defer=("a",))
    assert window == ["b", "c", "a"]
    # with a full window the deferred name waits a round
    assert compute_window(registry, {}, slots=2, defer=("a",)) == ["b", "c"]


def test_slots_cap():
    registry = [f"q{i}" for i in range(100)]
    assert len(compute_window(registry, {}, slots=50)) == 50


def test_red_requeue_heads_the_window():
    """A red latest driver row outranks everything, even never-checked
    (VERDICT r8 #1: agg_hhi must land its green row the very next round)."""
    registry = ["a", "b", "c", "d"]
    history = {"a": 8, "d": 4}  # b, c never checked
    window = compute_window(registry, history, slots=3, red=("a",))
    assert window == ["a", "b", "c"]


def test_red_names_from_latest_rows():
    latest = {
        "green": (8, {"hash_match": True, "err": None}),
        "red_hash": (8, {"hash_match": False, "err": None}),
        "rows_only": (8, {"hash_match": None, "err": "no_oracle"}),
        "errored": (7, {"hash_match": None, "err": "spark_error"}),
    }
    # rows_only requeues ONLY once it declares an oracle
    assert red_names(latest, {"green", "red_hash", "errored"}) == [
        "errored", "red_hash",
    ]
    assert red_names(latest, {"green", "red_hash", "rows_only"}) == [
        "errored", "red_hash", "rows_only",
    ]


def test_stale_quota_reserves_slots_ahead_of_never():
    """--stale-quota N keeps a never-checked backlog from starving the
    stale drain (VERDICT r8 next-round #7)."""
    registry = ["n1", "n2", "n3", "s1", "s2", "s3"]
    history = {"s1": 4, "s2": 5, "s3": 6}
    window = compute_window(registry, history, slots=4, stale_quota=2)
    # two stalest checked first, then never-checked fills the rest
    assert window == ["s1", "s2", "n1", "n2"]
    # reds still outrank the quota
    window = compute_window(
        registry, history, slots=4, stale_quota=2, red=("s3",))
    assert window == ["s3", "s1", "s2", "n1"]


def test_committed_window_matches_tool_output():
    """The committed verify_window.txt must be reproducible from the
    committed CORRECTNESS history — a hand-edit or a missed regeneration
    fails here. The header records the generation round and stale quota so
    the replay uses the same inputs the tool did."""
    from puffbird_spark.queries import ORACLES, QUERIES, window_names

    with open(WINDOW_PATH) as fh:
        header = fh.read()
    m = re.search(r"history-through: r(\d+)", header)
    assert m, "window file must record its generation round"
    through = int(m.group(1))
    mq = re.search(r"stale-quota: (\d+)", header)
    quota = int(mq.group(1)) if mq else 0
    # clamp per round file, not by filtering the final map — a gate whose
    # overall-latest round is past `through` must clamp to its newest
    # round <= through, not vanish (the r12 judge-found artifact: the
    # driver's CORRECTNESS lands after the builder's last commit, and a
    # final-map filter made all 50 freshly-driven gates look never-checked)
    history = load_history(REPO, through=through)
    reds = red_names(load_latest_rows(REPO, through=through), set(ORACLES))

    expected = compute_window(
        list(QUERIES), history, slots=SLOTS, defer=(),
        red=tuple(reds), stale_quota=quota,
    )
    committed = window_names()
    assert committed == expected
    # the registry's first SLOTS entries are exactly the window
    assert list(QUERIES)[:len(committed)] == committed


def test_window_names_all_registered():
    from puffbird_spark.queries import ORACLES, QUERIES, window_names

    committed = window_names()
    assert len(committed) == SLOTS
    for name in committed:
        assert name in QUERIES, name
        assert name in ORACLES or name in QUERIES, name
