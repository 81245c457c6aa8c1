"""Projection operators -- P1 and the P2 row-width cap (SURVEY.md §2).

P1 projects each cell to the 3-field proto shape {name, value, writeTime}
(reference: service/ColumnMapper.java:9-21). P2 -- folding a partition's
surviving cells into Row{key, repeated Column} in cell-name order
(reference: service/SSTableReader.java:87-109) -- happens inside the
protobuf sink's writer (sources/sstable_pb.write_cells_pb), which folds
adjacent sorted runs; MAX_CELLS_PER_ROW is its memory bound.

The LWW (last-write-wins) dedup the reference lacks -- it never
reconciles duplicate keys across SSTables (Runner.java:59 processes files
independently) -- is landed.lww_winners.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# P2's documented memory bound: the nested Row output shape requires one
# in-memory copy of a partition's surviving cells (the proto Row message
# itself must fit in memory on ANY implementation, including the
# reference's streaming builder -- service/SSTableReader.java:90-107 still
# materializes the Message). A partition wider than this cap would silently
# stress executor memory; instead the protobuf writer FAILS LOUDLY with the
# offending key, and the caller either raises the cap deliberately or
# routes the table through the flat-cell surface (which streams O(cell)).
MAX_CELLS_PER_ROW = 1_000_000


def project_cells(cells: DataFrame) -> DataFrame:
    """P1: prune to the proto Column shape plus routing keys."""
    return cells.select("sstable_id", "key", "name", "value", "writeTime")

