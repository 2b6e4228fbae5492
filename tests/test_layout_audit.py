"""Guard for the committed LAYOUT_AUDIT.json (tools/layout_audit.py):
every registered query hashed under two shuffle layouts, zero
mismatches. Re-running the full audit in-suite would double the suite
wall (~440 s), so the suite enforces FRESHNESS instead — and per
VERDICT r8 "what's wrong #1" freshness now means SOURCE freshness, not
just set coverage: each record row carries an md5 fingerprint of the
query function's source + oracle, and this guard recomputes the
fingerprints and asserts they match. Editing an existing query's body
without re-running the audit (``python tools/layout_audit.py
--changed`` re-runs only the stale names and merges) fails here.
(Per-query layout independence for the shuffle-heavy operators is
additionally exercised live in tests/test_determinism.py.)
"""

from __future__ import annotations

import json
import os

from cdc_poc_spark.queries import all_specs

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_RECORD = os.path.join(_REPO, "LAYOUT_AUDIT.json")


def test_layout_audit_record_fresh_and_clean():
    import sys

    sys.path.insert(0, os.path.join(_REPO, "tools"))
    from layout_audit import source_fingerprint

    with open(_RECORD) as fh:
        rec = json.load(fh)
    assert rec["n_mismatch"] == 0, f"layout mismatches: {rec['mismatches']}"
    assert rec["n_error"] == 0, f"layout audit errors: {rec['errors']}"
    specs = all_specs()
    recorded = rec["queries"]
    missing = sorted(set(specs) - set(recorded))
    assert not missing, (
        f"registry grew since the committed layout audit — run "
        f"`python tools/layout_audit.py --changed`; uncovered: {missing}"
    )
    stale = sorted(
        n
        for n, s in specs.items()
        if recorded[n].get("fp") != source_fingerprint(s)
    )
    assert not stale, (
        f"query source/oracle edited since the committed layout audit — "
        f"run `python tools/layout_audit.py --changed`; stale: {stale}"
    )


def test_helpers_salt_is_checkout_independent(tmp_path):
    """The helper salt hashes paths relative to the checkout root, so a
    copy of the package at another path salts identically (otherwise
    every row of the record reads stale in any other checkout)."""
    import shutil
    import sys

    sys.path.insert(0, os.path.join(_REPO, "tools"))
    from layout_audit import _helpers_salt

    copy = tmp_path / "elsewhere" / "cdc_poc_spark"
    shutil.copytree(
        os.path.join(_REPO, "cdc_poc_spark"),
        copy,
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    assert _helpers_salt(str(copy)) == _helpers_salt()
