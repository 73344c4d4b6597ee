"""Compare every registry head's oracle SQL text with a git revision's.

A refactor of the oracle builders (shared SQL generators in place of
hand-rolled copies) must not change what DuckDB runs.  This script
extracts REV with ``git archive`` into a temporary directory, loads both
registries in fresh interpreters (no Spark session is started), and
prints:

- surviving heads whose oracle text differs byte-for-byte;
- heads removed and heads added;
- head and rows-only counts on both sides.

Usage: python tools/oracle_text_diff.py [REV]   (default: HEAD)
Exit status 1 if any surviving head's oracle text differs.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

DUMP = (
    "import json, sys; sys.path.insert(0, sys.argv[1]); "
    "from icebergproject_spark.queries import REGISTRY; "
    "print(json.dumps({n: q.oracle for n, q in REGISTRY.items()}))"
)


def oracles(tree: str) -> dict[str, str | None]:
    out = subprocess.run(
        [sys.executable, "-c", DUMP, tree],
        check=True,
        capture_output=True,
        text=True,
        cwd=tree,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> int:
    rev = sys.argv[1] if len(sys.argv) > 1 else "HEAD"
    with tempfile.TemporaryDirectory() as tmp:
        archive = subprocess.run(
            ["git", "-C", ROOT, "archive", rev], check=True, capture_output=True
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        old = oracles(tmp)
    new = oracles(ROOT)
    changed = sorted(n for n in new if n in old and new[n] != old[n])
    for label, names in (
        ("changed", changed),
        ("removed", sorted(set(old) - set(new))),
        ("added", sorted(set(new) - set(old))),
    ):
        print(f"{label}: {', '.join(names) if names else '-'}")
    for label, reg in ((rev, old), ("worktree", new)):
        rows_only = sum(v is None for v in reg.values())
        print(f"{label}: {len(reg)} heads, {rows_only} rows-only")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())
