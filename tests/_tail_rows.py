"""The binlog tail reader's output as Python rows, for assertions."""

from __future__ import annotations


def tail_rows(batches) -> list[tuple]:
    """The rows of ``MysqlBinlogTailStreamReader`` Arrow batches (what
    ``_delta`` and ``readBetweenOffsets`` return) as tuples in schema
    order."""
    return [tuple(r.values()) for b in batches for r in b.to_pylist()]
