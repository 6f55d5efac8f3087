"""Rotation-discipline contract (r11 verdict item 3).

The rotation policy requires every oracle-bearing operator to eventually
earn a driver-green CORRECTNESS row; parked CI checks are not the driver
signal.  r11 found two legacy rows (q_text_lm, q_text_repetition) had
ridden parked CI since ~r5 without ever being seated because the
hand-maintained seating note undercounted.  This test makes that
impossible: the set of parked-but-never-driver-checked rows is
recomputed from the repo's own CORRECTNESS_r*.json history every CI run
and pinned to the documented queue (``__spark_entry__.SEATING_QUEUE``).
Adding a new parked operator REQUIRES adding it to the queue; seating it
(adding its name to ``SEATED``) REQUIRES removing it.
"""

from __future__ import annotations

import glob
import json
import os

import __spark_entry__ as entry

REPO = os.path.dirname(os.path.abspath(entry.__file__))


def _ever_driver_checked() -> set[str]:
    ever: set[str] = set()
    for f in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        ever.update(json.load(open(f)))
    return ever


def test_history_files_present():
    # the contract is vacuous without the history it audits
    assert len(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))) >= 11


def test_never_checked_parked_rows_match_documented_queue():
    parked = set(entry.parked_queries())
    queue = parked - _ever_driver_checked()
    assert queue == set(entry.SEATING_QUEUE), (
        "parked rows with no driver CORRECTNESS row ever must equal the"
        " documented SEATING_QUEUE (seat them at the next rotation, or"
        " queue newly-parked additions): "
        f"undocumented={sorted(queue - entry.SEATING_QUEUE)}"
        f" stale={sorted(set(entry.SEATING_QUEUE) - queue)}"
    )


def test_seated_rows_not_in_queue():
    # a seated row is being checked THIS round — it can't be queued
    assert not set(entry.SEATING_QUEUE) & set(entry.SEATED)


def test_window_and_anchors():
    seated = set(entry.SEATED)
    assert len(seated) == len(entry.SEATED) == 50
    assert entry.BASELINE_ANCHORS <= seated
    # seated and parked never overlap, and oracles track queries
    assert not seated & set(entry.parked_queries())
    assert set(entry.oracle_sql()) == seated
    assert set(entry.parked_oracle_sql()) == set(entry.parked_queries())
