"""Sequential Elo: fold hand cases and the batch operator
(operators/preference.py)."""

import pandas as pd

from node_feedparser_spark.operators.preference import (
    _r6,
    elo_fold,
    elo_ratings,
)


# ---------------------------------------------------------------------------
# elo_fold (the shared semantics)
# ---------------------------------------------------------------------------


def test_fold_hand_computed_first_game():
    st = elo_fold([(0, "a", "b")])
    # equal ratings -> E = 0.5 -> winner +16, loser -16
    assert st["ratings"] == {"a": 1516.0, "b": 1484.0}
    assert st["games"] == {"a": 1, "b": 1}
    assert st["wins"] == {"a": 1, "b": 0}


def test_fold_is_order_dependent():
    up = elo_fold([(0, "a", "b"), (1, "a", "c")])["ratings"]["a"]
    down = elo_fold([(0, "a", "c"), (1, "a", "b")])["ratings"]["a"]
    # b and c start equal so the end rating matches either way round…
    assert up == down
    st1 = elo_fold([(0, "a", "b"), (1, "b", "a"), (2, "a", "b")])
    st2 = elo_fold([(0, "b", "a"), (1, "a", "b"), (2, "a", "b")])
    # …but a genuine reordering of who-beat-whom history diverges
    assert st1["ratings"] != st2["ratings"]


def test_fold_matches_manual_second_game():
    st = elo_fold([(0, "a", "b"), (1, "a", "b")])
    e = 1.0 / (1.0 + 10.0 ** ((1484.0 - 1516.0) / 400.0))
    assert st["ratings"]["a"] == _r6(1516.0 + 32.0 * (1.0 - e))


def test_fold_skips_replayed_and_self_rows():
    st = elo_fold([(0, "a", "b")])
    st = elo_fold([(0, "a", "b"), (1, "c", "c")], state=st)  # replay + self
    assert st["games"] == {"a": 1, "b": 1}
    assert st["last_seq"] == 1


def test_fold_duplicate_seq_tie_break_deterministic():
    # same seq twice: sorted() falls back to (winner, loser) order
    st1 = elo_fold([(5, "b", "a"), (5, "a", "c")])
    st2 = elo_fold([(5, "a", "c"), (5, "b", "a")])
    assert st1["ratings"] == st2["ratings"]


# ---------------------------------------------------------------------------
# batch operator
# ---------------------------------------------------------------------------


def _comps_pdf(rows):
    return pd.DataFrame(rows, columns=["pool", "seq", "winner", "loser"])


def test_batch_matches_fold_per_pool(spark):
    rows = [
        ("x", 0, "a", "b"),
        ("x", 1, "b", "c"),
        ("x", 2, "a", "c"),
        ("y", 0, "p", "q"),
    ]
    out = elo_ratings(spark.createDataFrame(_comps_pdf(rows))).collect()
    got = {(r["pool"], r["player"]): (r["rating"], r["n_games"], r["wins"])
           for r in out}
    for p in ("x", "y"):
        st = elo_fold([(s, w, l) for pp, s, w, l in rows if pp == p])
        for pl in st["ratings"]:
            assert got[(p, pl)] == (
                st["ratings"][pl], st["games"][pl], st["wins"][pl]
            )
    assert len(got) == 5

