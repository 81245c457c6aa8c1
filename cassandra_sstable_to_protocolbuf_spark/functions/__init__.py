"""Column-level function library: reusable expressions (all JVM-side
pyspark.sql.functions compositions -- no Python UDFs).

The reference has no scalar-function surface at all (values stay opaque
bytes end-to-end, SURVEY.md §2.1); this library is part of the
north-star extension surface. Implementations live next to their
operators; this package re-exports the column-level API.
"""

from cassandra_sstable_to_protocolbuf_spark.operators.text import (  # noqa: F401
    alpha_chars,
    fingerprint,
    lang_id,
    marker_hits,
    normalized,
    shingles,
    token_count,
    tokens,
)
