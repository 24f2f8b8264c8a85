"""Lint the committed optimization-evidence plan captures (VERDICT r12
ask #6): a *_before.txt / *_after.txt pair claimed as plan-diff
evidence must actually differ — the r12 triangle pair was
byte-identical because both captures saw only the post-checkpoint
frame, and the round notes cited them as showing a change they could
not show. Captures that are INTENTIONALLY identical (evidence that a
change is job-shape-only) must use a different suffix (e.g. _note)."""

import hashlib
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# plans/r12 predates the lint (its triangle pair is the documented
# counterexample); lint r13 onward
LINTED_DIRS = ["plans/r13"]


def _md5(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


def test_before_after_pairs_differ():
    pairs = 0
    for d in LINTED_DIRS:
        full = os.path.join(REPO, d)
        if not os.path.isdir(full):
            continue
        for name in sorted(os.listdir(full)):
            if not name.endswith("_before.txt"):
                continue
            after = name[: -len("_before.txt")] + "_after.txt"
            ap = os.path.join(full, after)
            if not os.path.exists(ap):
                continue
            pairs += 1
            assert _md5(os.path.join(full, name)) != _md5(ap), (
                f"{d}/{name} and {after} are byte-identical — either "
                "the capture missed the changed (pre-checkpoint) frame "
                "or the pair is not plan-diff evidence; use a _note "
                "suffix for intentionally-identical captures"
            )
    if not pairs:
        pytest.skip(f"no *_before/*_after pair under {LINTED_DIRS}")
