"""CLI driver -- the reference's user surface, distributed.

    python -m cassandra_sstable_to_protocolbuf_spark convert <input> <output_dir>

Mirrors the reference's contract (reference: Runner.java:39-103):
* <input> is a directory (recursively discovers `*-Data.db`) or a single
  Data.db file; bad arg count / missing path exit non-zero with usage
  (Runner.java:42-53).
* Each SSTable's live rows are written as `<name>-Data.db.proto.zst`
  (varint-delimited protobuf Rows, zstd stream) into <output_dir>
  (Runner.java:71, 147-156).
* Per-file metrics print on completion: rows, cells, source/target
  bytes, bytes saved, seconds (Runner.java:88-96).

Unlike the reference's single-threaded loop, conversion is one Spark job
with one task per scan split: each task reads its byte range, drops dead
cells and writes that range's rows in scan (token) order, as the
reference's loop does; the driver then publishes one output per input
(sources/sstable_pb.py write_native_pb).
"""

from __future__ import annotations

import os
import sys

USAGE = ("usage: python -m cassandra_sstable_to_protocolbuf_spark "
         "convert [--continue-on-error] <sstable_dir_or_data_file> <output_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "to-parquet [--by-shard] <sstable_dir_or_data_file> <output_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "compact <sstable_dir_or_data_file> <output_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "merge <delta_sstable_dir_or_data_file> <landed_shard_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "delete-keys <keys_file> <landed_shard_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "init-versioned [--force] <sstable_dir_or_data_file> <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "merge-versioned [--mor] <delta_sstable_dir_or_data_file> <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "merge-into <delta_sstable_dir_or_data_file> <keys_file> <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "compact-versioned <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "reshard-versioned <n_shards> <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "compact-respec <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "restore <version> <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "vacuum [--no-grace] <retain_versions> <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "table-history <table_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "sstable-info <sstable_dir_or_data_file>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "optimize-plan <sstable_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "optimize [--until-stable] <sstable_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "manifest <init|reconcile|status> <sstable_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "maintenance-vacuum <sstable_dir> [<min_age_s>]\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "verify-digest <sstable_dir_or_data_file>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "slice <sstable_dir_or_data_file> <name_start> <name_end> <output_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "build-corpus <sf_dir> <out_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "repair-diff <stale_sstables> <synced_sstables>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "analyze-events <sf_dir> <out_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "explain <query_name> [<sf_dir>]\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "check <query_name> <sf_dir>\n"
         "       python -m cassandra_sstable_to_protocolbuf_spark "
         "list-queries")


def _die(msg: str, code: int = 2) -> "None":
    print(msg, file=sys.stderr)
    sys.exit(code)


def convert(input_path: str, output_dir: str,
            continue_on_error: bool = False) -> int:
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        discover_data_files)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_pb import (
        write_native_pb)

    spark = get_spark("sstable-to-protobuf-convert")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    # the scan's own discovery (manifest-first, recursive walk, then the
    # maintenance transaction log's visibility filter): inputs an
    # in-place OPTIMIZE already replaced get no output and no metrics
    # (metrics and outputs are keyed by sstable_id, the basename sans
    # -Data.db; write_native_pb refuses two inputs sharing one)
    id_to_path = {os.path.basename(p)[:-len("-Data.db")]: p
                  for p in discover_data_files(input_path)}

    # one job, one task per scan split; every input gets an output, an
    # empty stream when nothing in it is live (Runner.java:75-82).
    # --continue-on-error plans the scan PERMISSIVE: like the reference
    # (Runner.java:84-87), a corrupt file prints its error, gets no
    # output, and the other files still convert.
    metrics, errors = write_native_pb(spark, input_path, output_dir,
                                      permissive=continue_on_error)
    total_saved = 0
    for m in metrics:
        src = os.path.getsize(id_to_path[m["sstable_id"]])
        saved = src - m["compressed_bytes"]
        total_saved += saved
        print(f"{m['sstable_id']}: rows={m['n_rows']} cells={m['n_cells']} "
              f"source={src}B target={m['compressed_bytes']}B "
              f"saved={saved}B seconds={m['seconds']}")
    for sid in sorted(errors):
        first_line = next(
            (ln for ln in errors[sid].splitlines() if ln.strip()), "")
        print(f"ERROR converting {sid}-Data.db: {first_line[:200]}",
              file=sys.stderr)
    print(f"converted {len(metrics)} sstable(s), "
          f"total bytes saved: {total_saved}")
    return 1 if errors else 0


def to_parquet(input_path: str, output_dir: str,
               by_shard: bool = False) -> int:
    """Extension surface: land live+LWW cells as columnar parquet --
    partitioned by origin sstable (default; repeat analytics never
    re-parse sstable bytes), or by key shard (`--by-shard`; the layout
    `merge`/`delete-keys` maintain incrementally). See landed.py's
    scale rationale."""
    from cassandra_sstable_to_protocolbuf_spark.landed import (
        land_by_shard, land_to_parquet)
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)

    spark = get_spark("sstable-to-parquet")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    if by_shard:
        from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
            read_native_cells)

        cells = read_native_cells(spark, input_path, live_only=True)
        land_by_shard(cells, output_dir)
        group_col = "shard"
    else:
        land_to_parquet(spark, input_path, output_dir)
        group_col = "sstable_id"
    from pyspark.sql import functions as F

    landed = spark.read.parquet(output_dir)
    for r in sorted(landed.groupBy(group_col)
                    .agg(F.count(F.lit(1)).alias("n")).collect(),
                    key=lambda r: str(r[group_col])):
        print(f"{r[group_col]}: cells={r.n}")
    print(f"landed {landed.count()} reconciled cells to {output_dir}")
    return 0


def slice_cmd(input_path: str, name_start: str, name_end: str,
              output_dir: str) -> int:
    """Clustering-slice export: land ONLY the cells whose name falls in
    [name_start, name_end) as parquet, using the promoted-index seek
    path -- inside a wide partition, blocks outside the slice are never
    read (sources/sstable_native.py `name_range`). The time-series
    shape: exporting one hour out of gigabyte partitions costs
    O(slice), not O(partition)."""
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    if not (name_start < name_end):
        _die(f"empty slice: name_start {name_start!r} must sort below "
             f"name_end {name_end!r}")
    spark = get_spark("sstable-slice")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    cells = read_native_cells(
        spark, input_path,
        name_range=(name_start.encode(), name_end.encode()))
    cells.write.mode("overwrite").parquet(output_dir)
    landed = spark.read.parquet(output_dir)
    for r in sorted(landed.groupBy("sstable_id")
                    .agg(F.count(F.lit(1)).alias("n")).collect(),
                    key=lambda r: r.sstable_id):
        print(f"{r.sstable_id}: cells={r.n}")
    print(f"landed {landed.count()} sliced cells to {output_dir}")
    return 0


def compact_cmd(input_path: str, output_dir: str) -> int:
    """Merge every input sstable into one LWW-reconciled output sstable
    (Cassandra's compaction semantics -- the cross-file merge the
    reference deliberately skips, Runner.java:59)."""
    from cassandra_sstable_to_protocolbuf_spark.compaction import compact
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)

    spark = get_spark("sstable-compact")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    metrics = compact(spark, input_path, output_dir).collect()
    for m in sorted(metrics, key=lambda m: m.sstable_id):
        print(f"{m.sstable_id}: partitions={m.n_partitions} "
              f"cells={m.n_cells} -> {os.path.basename(m.path)}")
    print(f"compacted into {len(metrics)} sstable(s)")
    return 0


def merge_cmd(delta_path: str, landed_dir: str) -> int:
    """Copy-on-write LWW upsert of a delta sstable batch into a
    shard-partitioned landed table (built with `to-parquet --by-shard`):
    only shard directories containing delta keys are read and
    rewritten."""
    from cassandra_sstable_to_protocolbuf_spark.landed import merge_delta_lww
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    spark = get_spark("sstable-merge")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    delta = read_native_cells(spark, delta_path, live_only=True)
    shards = merge_delta_lww(spark, landed_dir, delta)
    print(f"merged delta into {len(shards)} shard(s): {shards}")
    return 0


def delete_keys_cmd(keys_file: str, landed_dir: str) -> int:
    """Right-to-be-forgotten pass: delete every key listed (one utf-8
    key per line) from the shard-partitioned landed table, rewriting
    only the shards those keys live in."""
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.landed import delete_keys_lww
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)

    spark = get_spark("sstable-delete-keys")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    # strip the trailing CR a Windows-authored file carries -- b'key\r'
    # matches nothing and the pass would report success while deleting
    # zero rows
    keys = (spark.read.text(keys_file)
            .select(F.regexp_replace("value", "\r$", "").alias("value"))
            .filter(F.length("value") > 0)
            .select(F.encode("value", "UTF-8").alias("key")))
    shards = delete_keys_lww(spark, landed_dir, keys)
    print(f"deleted keys from {len(shards)} shard(s): {shards}")
    return 0


def _versioned_spark(app: str):
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    return spark


def init_versioned_cmd(input_path: str, table_dir: str,
                       force: bool = False) -> int:
    """Create version 0 of a manifest-versioned landed table from raw
    sstables (immutable data files + manifest commit -- versioned.py).
    Refuses an already-initialized table unless --force (a re-init
    orphans all prior versions for the next vacuum to delete)."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        init_versioned, read_manifest, read_version)

    spark = _versioned_spark("sstable-init-versioned")
    cells = read_native_cells(spark, input_path, live_only=True)
    try:
        v = init_versioned(spark, cells, table_dir, force=force)
    except FileExistsError as e:
        _die(str(e))
    m = read_manifest(table_dir, v)
    n_files = sum(len(fl) for fl in m["files"].values())
    print(f"committed v{v}: {read_version(spark, table_dir, v).count()} "
          f"cells, {len(m['files'])} shard(s), {n_files} file(s)")
    return 0


def merge_versioned_cmd(delta_path: str, table_dir: str,
                        mor: bool = False) -> int:
    """Commit the LWW merge of a delta sstable batch as a new version;
    prior versions stay readable (time travel). With `mor`, commit
    merge-on-read (O(delta) file append, reconcile at read time; run
    compact-versioned to fold the debt)."""
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        append_versioned, current_version, merge_versioned)

    spark = _versioned_spark("sstable-merge-versioned")
    before = current_version(table_dir)
    delta = read_native_cells(spark, delta_path, live_only=True)
    commit = append_versioned if mor else merge_versioned
    v = commit(spark, table_dir, delta)
    if v == before:
        print(f"empty delta: table stays at v{v}")
    else:
        mode = "merge-on-read " if mor else ""
        print(f"committed {mode}v{v} (previous v{before} still readable)")
    return 0


_DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def explain_cmd(query_name: str, sf_dir: str = _DEFAULT_SF_DIR) -> int:
    """Print the formatted physical plan of a catalog query -- the
    operator's look-before-you-run surface (PushedFilters, ReadSchema,
    exchange count, codegen spans) without executing anything."""
    from cassandra_sstable_to_protocolbuf_spark.plans.catalog import CATALOG

    if query_name not in CATALOG:
        _die(f"unknown query: {query_name} (see list-queries)")
    spark = _versioned_spark("sstable-explain")
    df = CATALOG[query_name].fn(spark, sf_dir)
    print(df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted")))
    return 0


def check_cmd(query_name: str, sf_dir: str) -> int:
    """Run a catalog query AND its DuckDB oracle on the same parquet
    tables and compare exactly -- the correctness gate as a CLI, so an
    operator can certify any query on their own data. Exits 1 on
    mismatch, 3 for rows-only queries (no oracle)."""
    from cassandra_sstable_to_protocolbuf_spark.oracle import (
        duck_connection, run_and_compare)
    from cassandra_sstable_to_protocolbuf_spark.plans.catalog import CATALOG

    if query_name not in CATALOG:
        _die(f"unknown query: {query_name} (see list-queries)")
    qd = CATALOG[query_name]
    if qd.oracle is None:
        print(f"{query_name}: rows-only query (sketch/ML) -- no SQL oracle")
        return 3
    spark = _versioned_spark("sstable-check")
    try:
        n = run_and_compare(spark, duck_connection(sf_dir), qd.fn, qd.oracle,
                            sf_dir, query_name)
    except AssertionError as e:
        print(f"MISMATCH {e}", file=sys.stderr)
        return 1
    print(f"{query_name}: OK ({n} rows match the oracle exactly)")
    return 0


def list_queries_cmd() -> int:
    from cassandra_sstable_to_protocolbuf_spark.plans.catalog import CATALOG

    for name, qd in sorted(CATALOG.items()):
        gate = "oracle" if qd.oracle is not None else "rows-only"
        print(f"{name:32s} [{gate}] {qd.doc}")
    return 0


def merge_into_cmd(delta_path: str, keys_file: str, table_dir: str) -> int:
    """MERGE INTO: one atomic commit applying a delta sstable batch
    (upserts) AND a deletion key list (one utf-8 key per line) -- the
    mixed WHEN MATCHED/NOT MATCHED batch as a single snapshot."""
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        current_version, merge_into_versioned)

    spark = _versioned_spark("sstable-merge-into")
    before = current_version(table_dir)
    delta = read_native_cells(spark, delta_path, live_only=True)
    keys = (spark.read.text(keys_file)
            .select(F.regexp_replace("value", "\r$", "").alias("value"))
            .filter(F.length("value") > 0)
            .select(F.encode("value", "UTF-8").alias("key")))
    v = merge_into_versioned(spark, table_dir, delta, keys)
    if v == before:
        print(f"empty batch: table stays at v{v}")
    else:
        print(f"committed merge-into v{v} (previous v{before} still readable)")
    return 0


def compact_versioned_cmd(table_dir: str) -> int:
    """Fold merge-on-read debt: rewrite multi-file shards to one
    reconciled file each, as a new content-invariant version."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        compact_versioned, current_version)

    spark = _versioned_spark("sstable-compact-versioned")
    before = current_version(table_dir)
    v = compact_versioned(spark, table_dir)
    if v == before:
        print(f"already compact: table stays at v{v}")
    else:
        print(f"compacted into v{v}")
    return 0


def reshard_versioned_cmd(n_shards: str, table_dir: str) -> int:
    """Evolve the partition spec (shard count) via a metadata-only
    commit; the table reads through read_respec until compact-respec
    relabels the files."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        current_version, reshard_versioned)

    before = current_version(table_dir)
    v = reshard_versioned(table_dir, int(n_shards))
    if v == before:
        print(f"spec unchanged: table stays at v{v}")
    else:
        print(f"resharded to {int(n_shards)} shards as v{v} "
              f"(metadata-only; run compact-respec to relabel data files)")
    return 0


def compact_respec_cmd(table_dir: str) -> int:
    """Rewrite every data file under the current spec and clear the
    mixed flag (the deferred post-reshard maintenance job)."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        compact_respec_versioned)

    spark = _versioned_spark("sstable-compact-respec")
    v = compact_respec_versioned(spark, table_dir)
    print(f"respec-compacted into v{v}")
    return 0


def restore_cmd(version: str, table_dir: str) -> int:
    from cassandra_sstable_to_protocolbuf_spark.versioned import restore_version

    if not version.isdigit():
        _die(f"restore expects a numeric version, got {version!r}")
    v = restore_version(table_dir, int(version))
    print(f"restored content of v{version} as new version v{v}")
    return 0


def vacuum_cmd(retain: str, table_dir: str, no_grace: bool = False) -> int:
    """Reclaim unreferenced files. By default unreferenced files younger
    than the liveness grace survive (they may belong to an in-flight
    commit); `--no-grace` reclaims them too -- safe only when no other
    writer can be running."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import vacuum

    if not retain.isdigit() or int(retain) < 1:
        _die(f"vacuum expects a positive retain count, got {retain!r}")
    kwargs = {"min_file_age_s": 0.0} if no_grace else {}
    deleted = vacuum(table_dir, retain=int(retain), **kwargs)
    print(f"vacuum reclaimed {len(deleted)} file(s)")
    return 0


def build_corpus_cmd(sf_dir: str, out_dir: str) -> int:
    """The end-to-end training-corpus build, composing the gated
    operators into the pipeline's actual deliverable: language gate ->
    quality gate -> repetition gate -> exact-dedup canonical ->
    dedup-aware train/val/test split -> greedy context-window packing,
    landed as parquet partitioned by split with a one-line JSON yield
    summary. Every stage is the SAME plan its catalog gate certifies --
    this command is their composition, not a re-implementation."""
    import json as _json

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.operators import text as T
    from cassandra_sstable_to_protocolbuf_spark.operators.corpus import (
        pack_sequences)
    from cassandra_sstable_to_protocolbuf_spark.plans.textops import (
        docs_langid, docs_leakage_safe_split, docs_quality,
        docs_repetition_filter)

    spark = _versioned_spark("sstable-build-corpus")
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    lang = docs_langid(spark, sf_dir).select(
        "doc_id", (F.col("lang_pred") == "en").alias("l_keep"))
    qual = docs_quality(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("q_keep"))
    rep = docs_repetition_filter(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("r_keep"))
    canon = docs.select(
        "doc_id", T.fingerprint(F.col("text")).alias("fp")).select(
        "doc_id",
        (F.min("doc_id").over(Window.partitionBy("fp")) == F.col("doc_id"))
        .alias("is_canon"))
    split = docs_leakage_safe_split(spark, sf_dir).select("doc_id", "split")
    kept = (docs.join(lang, "doc_id").join(qual, "doc_id")
            .join(rep, "doc_id").join(canon, "doc_id").join(split, "doc_id")
            .filter(F.col("l_keep") & F.col("q_keep") & F.col("r_keep")
                    & F.col("is_canon"))
            .withColumn("n_tokens", T.token_count(F.col("text"))))
    packed = pack_sequences(kept, "n_tokens", part_cols=("split", "lang"))
    out_cols = ["doc_id", "text", "lang", "source", "n_tokens",
                "seq_id", "seq_offset", "split"]
    # one file per split dir, not one per task x split (the small-file
    # explosion every partitionBy write invites)
    (packed.select(*out_cols)
     .repartition(F.col("split"))
     .write.mode("overwrite").partitionBy("split").parquet(out_dir))
    counts = {r["split"]: (r["n_docs"], r["n_seqs"], r["n_tokens"])
              for r in (spark.read.parquet(out_dir)
                        .groupBy("split")
                        .agg(F.count(F.lit(1)).alias("n_docs"),
                             F.count_distinct("seq_id").alias("n_seqs"),
                             F.sum("n_tokens").alias("n_tokens"))
                        .collect())}
    total = docs.count()
    summary = {"input_docs": total,
               "kept_docs": sum(v[0] for v in counts.values()),
               "splits": {s: {"docs": d, "seqs": q, "tokens": t}
                          for s, (d, q, t) in sorted(counts.items())}}
    print(_json.dumps(summary))
    return 0


def analyze_events_cmd(sf_dir: str, out_dir: str) -> int:
    """The end-to-end product-analytics build over the events table,
    composing the gated operators into one deliverable: hourly rollup,
    sessionization, retention cohorts, seasonality heatmap, and the
    user-journey Markov matrix, each landed as parquet under <out_dir>,
    plus a one-line JSON summary. Every stage is the SAME plan its
    catalog gate certifies -- this command is their composition."""
    import json as _json

    from cassandra_sstable_to_protocolbuf_spark.plans.relational import (
        events_hourly, events_markov_transitions, events_retention_cohorts,
        events_seasonality, events_sessionize_batch)

    spark = _versioned_spark("sstable-analyze-events")
    stages = {
        "hourly": events_hourly,
        "sessions": events_sessionize_batch,
        "retention": events_retention_cohorts,
        "seasonality": events_seasonality,
        "journeys": events_markov_transitions,
    }
    summary: dict[str, int] = {}
    for name, fn in stages.items():
        dst = os.path.join(out_dir, name)
        df = fn(spark, sf_dir).coalesce(1)
        df.write.mode("overwrite").parquet(dst)
        summary[name] = spark.read.parquet(dst).count()
    print(_json.dumps({"tables": summary}))
    return 0


def verify_digest_cmd(input_path: str) -> int:
    """Integrity sweep over -Digest.sha1 components, driver-only: streams
    each Data.db once (O(1) memory), prints ok/FAIL/no-digest per file,
    exit 1 if anything failed. The uncompressed-table complement of the
    read path's inline per-chunk Adler32 verification."""
    import glob

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        verify_digest)

    if os.path.isdir(input_path):
        paths = sorted(glob.glob(
            os.path.join(input_path, "**", "*-Data.db"), recursive=True))
    else:
        paths = [input_path]
    if not paths:
        _die(f"no sstables under {input_path}")
    failed = 0
    for data_path in paths:
        ok = verify_digest(data_path)
        state = "no-digest" if ok is None else ("ok" if ok else "FAIL")
        failed += state == "FAIL"
        print(f"{os.path.basename(data_path)}: {state}")
    print(f"{len(paths)} sstable(s), {failed} digest failure(s)")
    return 1 if failed else 0


def optimize_plan_cmd(input_path: str) -> int:
    """Size-tiered compaction candidate selection over REAL component
    files, driver-only (metadata plane, no Spark session, zero data
    bytes read): plan_merge_tasks buckets sstables into log2 LOGICAL
    size tiers (Cassandra's STCS bucketing; logical bytes so compressed
    and plain tables tier identically) and cumulative-sum-packs each
    tier largest-first into bins of ~2x the tier's upper bound -- the
    exact plan the oracle-gated `sst_optimize_execute` catalog query
    certifies end-to-end. At 100 TB this loop runs over the manifest's
    file list; data never moves until `optimize` runs the chosen bins
    through `compact`."""
    from cassandra_sstable_to_protocolbuf_spark.compaction import (
        input_data_files, plan_merge_tasks)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        DATA_SUFFIX)

    paths = input_data_files(input_path)
    if not paths:
        _die(f"no sstables under {input_path}")
    tasks = plan_merge_tasks(paths)
    for i, t in enumerate(tasks, 1):
        names = ", ".join(os.path.basename(pth)[:-len(DATA_SUFFIX)]
                          for pth in t["files"])
        print(f"task {i}: tier 2^{t['tier']} bin {t['bin']}, "
              f"{len(t['files'])} files, {t['bytes']} bytes -> {names}")
    print(f"planned {len(tasks)} merge task(s) over {len(paths)} sstable(s)")
    return 0


def optimize_cmd(input_path: str, until_stable: bool = False) -> int:
    """PLAN -> EXECUTE: run every executable merge bin through `compact`
    in place -- outputs opt-<generation>-<tier>-<bin>-<shard> (shard
    count derived from each bin's logical bytes), each bin's swap under
    the maintenance transaction log (crash-safe, recovered on rerun),
    bins concurrent, stragglers untouched. --until-stable re-plans and
    merges until no bin remains. The gated twin is the
    `sst_optimize_execute` catalog query."""
    from cassandra_sstable_to_protocolbuf_spark.compaction import optimize
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)

    spark = get_spark("sstable-optimize")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)
    results = optimize(spark, input_path, until_stable=until_stable)
    n_in = n_out = n_err = 0
    for r in results:
        if "error" in r:
            print(f"gen {r['generation']} tier 2^{r['tier']} "
                  f"bin {r['bin']}: FAILED (rolled back): {r['error']}")
            n_err += 1
            continue
        outs = ", ".join(f"{m.sstable_id}(p={m.n_partitions},c={m.n_cells})"
                         for m in r["outputs"])
        print(f"gen {r['generation']} tier 2^{r['tier']} bin {r['bin']}: "
              f"{r['n_inputs']} inputs ({r['input_bytes']} bytes) -> {outs}")
        n_in += r["n_inputs"]
        n_out += len(r["outputs"])
    print(f"optimized {n_in} sstable(s) into {n_out} across "
          f"{len(results) - n_err} task(s)"
          + (f", {n_err} task(s) failed" if n_err else ""))
    return 1 if n_err else 0


def sstable_info_cmd(input_path: str) -> int:
    """`sstablemetadata`-style report, driver-only (no Spark session):
    per sstable, the Descriptor/Statistics/Summary/Index metadata --
    zero data bytes read. The distributed, oracle-gated twin is the
    `sst_table_info` catalog query; this is the operational one-liner."""
    import glob
    import hashlib

    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        DATA_SUFFIX, Descriptor, iter_index_promoted, load_bloom,
        load_summary, read_any_name_bounds, read_statistics)

    if os.path.isdir(input_path):
        paths = sorted(glob.glob(
            os.path.join(input_path, "**", "*-Data.db"), recursive=True))
    else:
        paths = [input_path]
    if not paths:
        _die(f"no sstables under {input_path}")
    for data_path in paths:
        base = data_path[:-len(DATA_SUFFIX)]
        try:
            d = Descriptor.from_filename(data_path)
            sid = f"{d.ks}.{d.cf} v{d.version} gen={d.generation}"
        except ValueError:
            sid = os.path.basename(base)
        try:
            stats = read_statistics(base + "-Statistics.db")
            entries = []
            n_promoted = 0
            for key, off, _pos, blob in iter_index_promoted(
                    base + "-Index.db"):
                entries.append((key, off))
                n_promoted += bool(blob)
        except (OSError, ValueError) as e:
            print(f"{sid}: UNREADABLE ({e})", file=sys.stderr)
            continue
        # engine-stamped component OR a genuine ka StatsMetadata's
        # min/maxColumnNames -- foreign files report bounds too.
        # REPORTING is comparator-safe (nothing is pruned on it), so
        # trust_foreign is fine here; the READ path keeps it opt-in
        bounds = read_any_name_bounds(base + "-Statistics.db",
                                      trust_foreign=True)
        summary = load_summary(data_path)
        bloom = load_bloom(data_path)
        bloom_desc = (f"{bloom.hash_count}x{len(bloom.words) * 64}b"
                      if bloom is not None else "none")
        keys = [k for k, _off in entries]
        names_desc = ("-" if bounds is None else
                      "[%s..%s]" % (
                          bounds[0].decode("utf-8", "replace"),
                          bounds[1].decode("utf-8", "replace")))
        compressed = os.path.exists(base + "-CompressionInfo.db")
        first = hashlib.md5(keys[0]).hexdigest() if keys else "-"
        last = hashlib.md5(keys[-1]).hexdigest() if keys else "-"
        print(f"{sid}: partitioner={stats['partitioner'].rsplit('.', 1)[-1]}"
              f" partitions={len(keys)}"
              f" summary={len((summary or {}).get('entries', ()))}"
              f"@{(summary or {}).get('interval', 0)}"
              f" bloom={bloom_desc}"
              f" compressed={'yes' if compressed else 'no'}"
              f" data_bytes={os.path.getsize(data_path)}"
              f" promoted={n_promoted}"
              f" names={names_desc}"
              f" tokens=[{first[:12]}.., {last[:12]}..]")
    return 0


def repair_diff_cmd(stale_path: str, synced_path: str) -> int:
    """Anti-entropy repair check between two replicas' sstable sets:
    Merkle-leaf digest comparison, then a drill of only the differing
    leaves (operators/repair.py). Prints per-status counts and a sample
    of out-of-sync rows; exits 1 when the replicas diverge, 0 when they
    are in sync (the `nodetool repair --preview` contract)."""
    from pyspark.sql import functions as F

    from cassandra_sstable_to_protocolbuf_spark.operators.repair import (
        repair_diff)
    from cassandra_sstable_to_protocolbuf_spark.session import (
        ensure_shipped, get_spark)
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        read_native_cells)

    spark = get_spark("sstable-repair-diff")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_shipped(spark)

    def side(path: str, tag: str):
        cells = read_native_cells(spark, path, live_only=True)
        # hex-render the binary columns (the digest/concat path needs
        # strings and arbitrary cell bytes need not be UTF-8); drop the
        # empty-name partition-marker atoms -- partition existence is
        # implied by its cells, and markers would double-count every
        # missing partition in the report
        return (cells.filter(F.length("name") > 0)
                .select(F.lit(tag).alias("_side"), F.hex("key").alias("key"),
                        F.hex("name").alias("name"),
                        F.hex("value").alias("value"),
                        "writeTime", "sstable_id"))

    cells = side(stale_path, "stale").unionByName(side(synced_path, "synced"))
    out = repair_diff(cells, F.col("_side") == "stale",
                      F.col("_side") == "synced")
    rows = out.collect()
    by_status: dict[str, int] = {}
    for r in rows:
        by_status[r.status] = by_status.get(r.status, 0) + 1
    if not rows:
        print("replicas in sync: 0 out-of-sync rows")
        return 0
    print(f"{len(rows)} out-of-sync row(s): "
          + ", ".join(f"{k}={v}" for k, v in sorted(by_status.items())))
    for r in sorted(rows, key=lambda r: (r.key, r.name))[:10]:
        print(f"  key={r.key} name={r.name} {r.status}"
              f" stale_wt={r.stale_write_time_us}"
              f" synced_wt={r.synced_write_time_us}")
    return 1


def table_history_cmd(table_dir: str) -> int:
    """List every retained snapshot: version, shard/file counts, and
    which one `_current` points at. Driver-only (no Spark session)."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        current_version, list_versions, read_manifest)

    if not os.path.isdir(os.path.join(table_dir, "_manifests")):
        _die(f"not a versioned table (no _manifests): {table_dir}")
    cur = current_version(table_dir)
    for v in list_versions(table_dir):
        m = read_manifest(table_dir, v)
        n_files = sum(len(fl) for fl in m["files"].values())
        marker = "  <- current" if v == cur else ""
        print(f"v{v}: {len(m['files'])} shard(s), {n_files} file(s){marker}")
    return 0


def manifest_cmd(action: str, input_dir: str) -> int:
    """Operational surface for manifest-backed discovery (driver-only,
    no Spark session): `init` turns the manifest ON (seeded from one
    final recursive walk), `reconcile` repairs out-of-band additions
    (raw copies that bypassed every publish API -- union a fresh walk
    back in), `status` reports entry count and walk agreement."""
    import glob as _glob

    from cassandra_sstable_to_protocolbuf_spark import manifest
    from cassandra_sstable_to_protocolbuf_spark.sources.sstable_native import (
        DATA_SUFFIX)

    if action == "init":
        entries = manifest.init(input_dir)
        print(f"manifest initialized: {len(entries)} sstables recorded "
              f"in {manifest.manifest_path(input_dir)}")
        return 0
    if action == "reconcile":
        if not manifest.exists(input_dir):
            _die(f"no manifest under {input_dir} (run `manifest init` "
                 f"first)")
        missing = manifest.reconcile(input_dir)
        print(f"reconciled: {len(missing)} out-of-band addition(s) "
              f"recorded" + (f": {', '.join(missing)}" if missing else ""))
        return 0
    if action == "status":
        entries = manifest.read_entries(input_dir)
        walked = sorted(os.path.relpath(p, input_dir) for p in _glob.glob(
            os.path.join(input_dir, "**", f"*{DATA_SUFFIX}"),
            recursive=True))
        if entries is None:
            print(f"no manifest: discovery walks ({len(walked)} sstables "
                  f"on disk)")
            return 0
        extra = sorted(set(entries) - set(walked))
        missing = sorted(set(walked) - set(entries))
        print(f"manifest: {len(entries)} entries "
              f"({manifest.segment_count(input_dir)} delta segments); "
              f"walk: {len(walked)} "
              f"sstables; ghosts (entry, no file): {len(extra)}; "
              f"unrecorded (file, no entry): {len(missing)}")
        return 0 if not extra and not missing else 1
    _die(f"unknown manifest action {action!r} (init|reconcile|status)")
    return 2


def maintenance_vacuum_cmd(input_dir: str,
                           min_age_s: float = 3600.0) -> int:
    """Sweep the maintenance plane's accumulated debris (driver-only,
    no Spark session): retired transaction-log and claim tombstones
    whose guarded files are gone (txnlog.vacuum -- the age + guards
    rule makes the hard delete provably safe), superseded manifest
    side objects no live root references (manifest.vacuum), and
    crash-leftover POSIX CAS-lock sidecars (flock-probed, never a held
    one). Recovery and discovery semantics are untouched: everything
    swept is, by construction, unreachable from any live protocol
    state -- drilled in tests/test_optimize_txn.py."""
    from cassandra_sstable_to_protocolbuf_spark import manifest, txnlog
    from cassandra_sstable_to_protocolbuf_spark.commit_backend import (
        sweep_cas_locks)

    tombs = txnlog.vacuum(input_dir, min_age_s=min_age_s)
    sides = manifest.vacuum(input_dir, min_age_s=min_age_s)
    locks = sweep_cas_locks(input_dir)
    print(f"maintenance-vacuum: {len(tombs)} txn tombstone(s), "
          f"{len(sides)} manifest side object(s), "
          f"{len(locks)} stale CAS lock(s) removed "
          f"(min age {min_age_s:g}s)")
    return 0


def main(argv: list[str]) -> int:
    args = list(argv)
    continue_on_error = "--continue-on-error" in args
    if continue_on_error:
        args.remove("--continue-on-error")
    by_shard = "--by-shard" in args
    if by_shard:
        args.remove("--by-shard")
    mor = "--mor" in args
    if mor:
        args.remove("--mor")
    no_grace = "--no-grace" in args
    if no_grace:
        args.remove("--no-grace")
    force = "--force" in args
    if force:
        args.remove("--force")
    until_stable = "--until-stable" in args
    if until_stable:
        args.remove("--until-stable")
    if until_stable and (len(args) != 2 or args[0] != "optimize"):
        _die("--until-stable applies to `optimize <sstable_dir>` only")
    if len(args) == 2 and args[0] == "compact-respec" \
            and not (continue_on_error or by_shard or mor or no_grace
                     or force):
        if not os.path.isdir(args[1]):
            _die(f"table dir does not exist: {args[1]}")
        return compact_respec_cmd(args[1])
    if len(args) == 3 and args[0] == "reshard-versioned" \
            and not (continue_on_error or by_shard or mor or no_grace
                     or force):
        if not args[1].isdigit() or int(args[1]) < 1:
            _die(f"n_shards must be a positive integer: {args[1]}")
        if not os.path.isdir(args[2]):
            _die(f"table dir does not exist: {args[2]}")
        return reshard_versioned_cmd(args[1], args[2])
    if len(args) == 2 and args[0] in ("table-history", "compact-versioned",
                                      "sstable-info", "optimize-plan",
                                      "optimize", "verify-digest") \
            and not (continue_on_error or by_shard or mor or no_grace
                     or force):
        if args[0] == "sstable-info":
            if not os.path.exists(args[1]):
                _die(f"input path does not exist: {args[1]}")
            return sstable_info_cmd(args[1])
        if args[0] == "optimize-plan":
            if not os.path.isdir(args[1]):
                _die(f"input path does not exist: {args[1]}")
            return optimize_plan_cmd(args[1])
        if args[0] == "optimize":
            if not os.path.isdir(args[1]):
                _die(f"input path does not exist: {args[1]}")
            return optimize_cmd(args[1], until_stable=until_stable)
        if args[0] == "verify-digest":
            if not os.path.exists(args[1]):
                _die(f"input path does not exist: {args[1]}")
            return verify_digest_cmd(args[1])
        if not os.path.isdir(args[1]):
            _die(f"table dir does not exist: {args[1]}")
        return (table_history_cmd if args[0] == "table-history"
                else compact_versioned_cmd)(args[1])
    if args and args[0] == "manifest":
        if len(args) != 3 or continue_on_error or by_shard or mor \
                or no_grace or force or until_stable:
            _die(USAGE)
        if not os.path.isdir(args[2]):
            _die(f"input path does not exist: {args[2]}")
        return manifest_cmd(args[1], args[2])
    if args and args[0] == "maintenance-vacuum":
        if len(args) not in (2, 3) or continue_on_error or by_shard \
                or mor or no_grace or force or until_stable:
            _die(USAGE)
        if not os.path.isdir(args[1]):
            _die(f"input path does not exist: {args[1]}")
        return maintenance_vacuum_cmd(
            args[1], float(args[2]) if len(args) == 3 else 3600.0)
    if args and args[0] == "list-queries":
        if len(args) != 1:
            _die(USAGE)
        return list_queries_cmd()
    if args and args[0] == "explain":
        if len(args) not in (2, 3):
            _die(USAGE)
        if len(args) == 3 and not os.path.isdir(args[2]):
            _die(f"sf dir does not exist: {args[2]}")
        return explain_cmd(*args[1:])
    if args and args[0] == "check":
        if len(args) != 3:
            _die(USAGE)
        if not os.path.isdir(args[2]):
            _die(f"sf dir does not exist: {args[2]}")
        return check_cmd(args[1], args[2])
    if args and args[0] == "slice":
        if len(args) != 5 or continue_on_error or by_shard or mor \
                or no_grace or force or until_stable:
            _die(USAGE)
        if not os.path.exists(args[1]):
            _die(f"input path does not exist: {args[1]}")
        return slice_cmd(args[1], args[2], args[3], args[4])
    if args and args[0] == "merge-into":
        if len(args) != 4:
            _die(USAGE)
        for p in (args[1], args[2]):
            if not os.path.exists(p):
                _die(f"input path does not exist: {p}")
        if not os.path.isdir(args[3]):
            _die(f"table dir does not exist: {args[3]}")
        return merge_into_cmd(args[1], args[2], args[3])
    commands = ("convert", "to-parquet", "compact", "merge", "delete-keys",
                "init-versioned", "merge-versioned", "restore", "vacuum",
                "build-corpus", "repair-diff", "analyze-events")
    if len(args) != 3 or args[0] not in commands:
        _die(USAGE)
    cmd, input_path, output_dir = args
    if cmd != "convert" and continue_on_error:
        _die(USAGE)
    if cmd != "to-parquet" and by_shard:
        _die(USAGE)
    if cmd != "merge-versioned" and mor:
        _die(USAGE)
    if cmd != "vacuum" and no_grace:
        _die(USAGE)
    if cmd != "init-versioned" and force:
        _die(USAGE)
    if cmd in ("restore", "vacuum"):
        # first operand is a number, not a path
        if not os.path.isdir(output_dir):
            _die(f"table dir does not exist: {output_dir}")
        if cmd == "vacuum":
            return vacuum_cmd(input_path, output_dir, no_grace=no_grace)
        return restore_cmd(input_path, output_dir)
    if not os.path.exists(input_path):
        _die(f"input path does not exist: {input_path}")
    if cmd == "build-corpus":
        if not os.path.isdir(input_path):
            _die(f"sf dir does not exist: {input_path}")
        return build_corpus_cmd(input_path, output_dir)
    if cmd == "repair-diff":
        if not os.path.exists(output_dir):
            _die(f"input path does not exist: {output_dir}")
        return repair_diff_cmd(input_path, output_dir)
    if cmd == "analyze-events":
        if not os.path.isdir(input_path):
            _die(f"sf dir does not exist: {input_path}")
        return analyze_events_cmd(input_path, output_dir)
    if cmd == "init-versioned":
        return init_versioned_cmd(input_path, output_dir, force=force)
    if cmd == "merge-versioned":
        if not os.path.isdir(output_dir):
            _die(f"table dir does not exist: {output_dir}")
        return merge_versioned_cmd(input_path, output_dir, mor=mor)
    if cmd == "to-parquet":
        return to_parquet(input_path, output_dir, by_shard=by_shard)
    if cmd == "compact":
        return compact_cmd(input_path, output_dir)
    if cmd == "merge":
        if not os.path.isdir(output_dir):
            _die(f"landed dir does not exist: {output_dir}")
        return merge_cmd(input_path, output_dir)
    if cmd == "delete-keys":
        if not os.path.isdir(output_dir):
            _die(f"landed dir does not exist: {output_dir}")
        return delete_keys_cmd(input_path, output_dir)
    return convert(input_path, output_dir, continue_on_error)


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
