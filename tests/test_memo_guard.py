"""Per-corpus state goes through one memo (email_etl_spark.cache.memo).

A module-level `_..._CACHE` dict or a hand-written `.sparkSession is`
check is the pattern the memo replaced: each such cache needed its own
invalidation and its own stale-session rule, and the ones that missed
the rule failed after a session restart. The one exception is
`_KM_BCAST_CACHE` (plans/search.py), a content-keyed, FIFO-bounded set
of broadcast variables that the memo's per-path entries would not
bound.
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "email_etl_spark"
ALLOWED = {"_KM_BCAST_CACHE"}
_CACHE_DICT = re.compile(r"^(_\w+_CACHE)\s*[:=]", re.M)


def _sources():
    return sorted(PACKAGE.rglob("*.py"))


def test_no_hand_rolled_module_caches():
    found = [
        f"{path.relative_to(PACKAGE)}: {name}"
        for path in _sources()
        for name in _CACHE_DICT.findall(path.read_text())
        if name not in ALLOWED
    ]
    assert not found, found


def test_no_hand_written_session_checks():
    found = [
        f"{path.relative_to(PACKAGE)}:{i}"
        for path in _sources()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if ".sparkSession is" in line
    ]
    assert not found, found
