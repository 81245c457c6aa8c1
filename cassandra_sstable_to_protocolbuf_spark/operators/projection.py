"""Projection operators -- P1, the P2 row-width cap, and LWW dedup
(SURVEY.md §2).

P1 projects each cell to the 3-field proto shape {name, value, writeTime}
(reference: service/ColumnMapper.java:9-21). P2 -- folding a partition's
surviving cells into Row{key, repeated Column} in cell-name order
(reference: service/SSTableReader.java:87-109) -- happens inside the
protobuf sink's writer (sources/sstable_pb.write_cells_pb), which folds
adjacent sorted runs; MAX_CELLS_PER_ROW is its memory bound.

The LWW (last-write-wins) dedup is the extension op the reference lacks:
it never reconciles duplicate keys across SSTables (Runner.java:59
processes files independently), so the same (key, name) can appear in many
files. `lww_dedup` keeps the cell with the highest writeTime -- Cassandra's
own reconciliation rule -- via a lexicographic struct max, a single hash
aggregation (no sort; partial agg ships one candidate per group per task).
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


def lww_dedup(cells: DataFrame) -> DataFrame:
    """Extension: last-write-wins reconciliation across SSTables.

    For each (key, name) keep the single cell with max writeTime
    (ties broken by sstable_id to stay deterministic). One hash
    aggregation -- map-side partial aggregation keeps the shuffle small.
    """
    from cassandra_sstable_to_protocolbuf_spark.landed import lww_winners

    return lww_winners(cells)
