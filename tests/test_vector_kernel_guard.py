"""One exact-kNN tile kernel, one LSH bucket builder, one vector path.

The block-tile explode and the (t, key) LSH bucket explode each used
to be copied into every query that needed them, and every copy grew
its own defects (a pinned tile count, a fixed candidate count that
dropped ties). Each now lives in one helper in plans/search.py:
`_tile_pairs` and `_lsh_buckets`. The `SPARK_GRAFT_VECTOR_KERNEL`
switch between two bit-identical cosine kernels is gone with the
second kernel.
"""

from __future__ import annotations

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "email_etl_spark"

# source pattern -> the one (file, top-level function) allowed to hold it
ONE_HOME = {
    'F.sequence(F.col("blk")': ("plans/search.py", "_tile_pairs"),
    'F.struct(F.lit(t).alias("t")': ("plans/search.py", "_lsh_buckets"),
    'F.col("bk.t")': ("plans/search.py", "_lsh_buckets"),
}


def _sources():
    return sorted(PACKAGE.rglob("*.py"))


def _homes(path: pathlib.Path, pattern: str) -> set[tuple[str, str]]:
    """(file, enclosing top-level function or '<module>') for each
    line of `path` that contains `pattern`."""
    text = path.read_text()
    spans = [
        (node.lineno, node.end_lineno, node.name)
        for node in ast.parse(text).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]
    rel = str(path.relative_to(PACKAGE))
    found = set()
    for i, line in enumerate(text.splitlines(), 1):
        if pattern in line:
            name = next((n for lo, hi, n in spans if lo <= i <= hi), "<module>")
            found.add((rel, name))
    return found


def test_tile_and_bucket_explodes_live_in_one_helper_each():
    for pattern, home in ONE_HOME.items():
        found = set().union(*(_homes(p, pattern) for p in _sources()))
        assert found == {home}, f"{pattern!r} found in {sorted(found)}, want only {home}"


def test_no_vector_kernel_switch():
    found = [
        str(p.relative_to(PACKAGE)) for p in _sources() if "SPARK_GRAFT_VECTOR_KERNEL" in p.read_text()
    ]
    assert not found, found
