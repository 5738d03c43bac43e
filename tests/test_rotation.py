"""Rotation: the driver's correctness gate only checks the first
DRIVER_GATE entries of queries(), so query ORDER is load-bearing.  These
tests rebuild the last-driver-round mapping from the committed
CORRECTNESS_r<NN>.json artifacts on their own and fail if the ordering
stops being stalest-first or the window stops moving.

No Spark session needed — pure structural checks, so they run on every
pytest invocation at zero cost.
"""

import glob
import json
import os
import re

import __spark_entry__ as em

REPO = os.path.dirname(os.path.abspath(em.__file__))
# a query outside the next two windows may be at most this many rounds
# past its last driver check (ceil(305 / 50) = 7 rounds per rotation)
MAX_STALE_ROUNDS = 7


def _artifacts():
    """(round, set of query names) for every committed artifact."""
    out = []
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as f:
            out.append((rnd, set(json.load(f))))
    return sorted(out, key=lambda a: a[0])


def _driver_rows():
    last = {}
    for rnd, names in _artifacts():
        for name in names:
            last[name] = max(last.get(name, 0), rnd)
    return last


def test_window_is_stalest_first():
    last = _driver_rows()
    order = list(em.queries())
    rounds = [last.get(q, 0) for q in order]
    for i in range(1, len(order)):
        assert rounds[i - 1] <= rounds[i], (
            f"{order[i]!r} (last round {rounds[i]}) queued after "
            f"{order[i - 1]!r} (last round {rounds[i - 1]}) — stale rows "
            f"must rotate first"
        )


def test_window_moves_past_newest_artifact():
    last = _driver_rows()
    order = list(em.queries())
    newest_round, newest = _artifacts()[-1]
    older = [q for q in order if last.get(q, 0) < newest_round]
    # only when fewer than DRIVER_GATE queries are older may the window
    # take the newest round's queries again, to fill its free slots
    slack = max(0, em.DRIVER_GATE - len(older))
    again = newest & set(order[: em.DRIVER_GATE])
    assert len(again) <= slack, (
        f"{sorted(again)[:5]} were checked in round {newest_round} and "
        f"sit in the next window again while older queries wait"
    )


def test_no_query_exceeds_max_staleness():
    last = _driver_rows()
    current = _artifacts()[-1][0] + 1
    order = list(em.queries())
    reachable = set(order[: em.DRIVER_GATE * 2])
    for q in order:
        r = last.get(q)
        if r is None:
            continue
        age = current - r
        assert age <= MAX_STALE_ROUNDS or q in reachable, (
            f"{q!r} last driver-checked round {r} (age {age} rounds) and "
            f"not within the next two windows — rotation is stalled"
        )


def test_every_query_is_oracled_or_documented():
    # every queries() entry either has an oracle or is rows-only BY
    # DESIGN (docstring says so) — no silent oracle gaps
    q = em.queries()
    oracles = em.oracle_sql()
    for name, fn in q.items():
        if name in oracles:
            continue
        doc = (fn.__doc__ or "").lower()
        assert "rows-only" in doc or "no oracle" in doc, (
            f"{name!r} has no oracle_sql() entry and its docstring does "
            f"not declare rows-only-by-design"
        )
