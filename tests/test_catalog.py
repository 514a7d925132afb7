"""QUERIES.md is generated, never hand-edited: it must equal what
`scripts/gen_catalog.py` renders from the current registry, so a
changed query doc shows up as a red test instead of catalog drift.
Regenerate with `python scripts/gen_catalog.py`."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "scripts"))


def test_queries_md_matches_the_registry():
    from gen_catalog import OUT, render

    with open(OUT) as fh:
        assert fh.read() == render()
