"""Test-support doubles that must be picklable on Spark workers (test modules
themselves are not importable from worker processes)."""

from __future__ import annotations

from ..core.patterns import AliasIndex


class CountingAliasIndex:
    """Broadcast stand-in whose worker-side `.value` accesses append one line
    to a shared file — lets tests count extraction TASKS across processes
    (each extraction stage pass touches the index once per task). Local-mode
    only: the counter file must be on a filesystem all workers share.

    `rows` are (alias_key, cui, alias, prior) dictionary rows, so the index
    carries the link candidates the extraction pass resolves against."""

    def __init__(self, rows, path):
        self._idx = AliasIndex.from_alias_rows(rows)
        self._path = str(path)

    @property
    def value(self):
        with open(self._path, "a") as fh:
            fh.write("x\n")
        return self._idx
