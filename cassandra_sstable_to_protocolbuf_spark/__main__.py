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

Every subcommand is one COMMANDS entry, which drives both parsing and
dispatch; `-h`, at the top or after a subcommand, prints the usage.
Flags follow their subcommand. Exit codes: 2 for a usage or operand
error (argparse's `usage:` message: operand count, missing path, bad
number, a flag the subcommand lacks); otherwise what the command
returns -- 1 for `convert` errors, a failed `verify-digest` or a
`manifest status` out of step with the walk, 3 for `check` on a
rows-only query.
"""

from __future__ import annotations

import argparse
import math
import os
import sys


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


def reshard_versioned_cmd(n_shards: int, table_dir: str) -> int:
    """Evolve the partition spec (shard count) via a metadata-only
    commit; the table reads through read_respec until compact-respec
    relabels the files."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import (
        current_version, reshard_versioned)

    before = current_version(table_dir)
    v = reshard_versioned(table_dir, n_shards)
    if v == before:
        print(f"spec unchanged: table stays at v{v}")
    else:
        print(f"resharded to {n_shards} shards as v{v} "
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


def restore_cmd(version: int, table_dir: str) -> int:
    from cassandra_sstable_to_protocolbuf_spark.versioned import restore_version

    v = restore_version(table_dir, version)
    print(f"restored content of v{version} as new version v{v}")
    return 0


def vacuum_cmd(retain: int, table_dir: str, no_grace: bool = False) -> int:
    """Reclaim unreferenced files. By default unreferenced files younger
    than the liveness grace survive (they may belong to an in-flight
    commit); `--no-grace` reclaims them too -- safe only when no other
    writer can be running."""
    from cassandra_sstable_to_protocolbuf_spark.versioned import vacuum

    kwargs = {"min_file_age_s": 0.0} if no_grace else {}
    deleted = vacuum(table_dir, retain=retain, **kwargs)
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
    entries = manifest.read_entries(input_dir)  # status
    walked = sorted(os.path.relpath(p, input_dir) for p in _glob.glob(
        os.path.join(input_dir, "**", f"*{DATA_SUFFIX}"), recursive=True))
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


def _exists(kind: str, test=os.path.exists):
    """argparse `type=` for a path operand: exit 2 with "<kind> does
    not exist: <path>" unless `test(path)` holds."""
    def check(path: str) -> str:
        if not test(path):
            raise argparse.ArgumentTypeError(f"{kind} does not exist: {path}")
        return path
    return check


def _int_at_least(lo: int):
    def check(s: str) -> int:
        if not (s.isdecimal() and int(s) >= lo):
            raise argparse.ArgumentTypeError(
                f"expected an integer >= {lo}, got {s!r}")
        return int(s)
    return check


def _age_s(s: str) -> float:
    try:
        age = float(s)
    except ValueError:
        age = math.nan
    if not (math.isfinite(age) and age >= 0):
        raise argparse.ArgumentTypeError(
            f"expected a finite number of seconds >= 0, got {s!r}")
    return age


_PATH = _exists("input path")
_DIR = _exists("input path", os.path.isdir)
_TABLE = _exists("table dir", os.path.isdir)
_LANDED = _exists("landed dir", os.path.isdir)
_SF = _exists("sf dir", os.path.isdir)

# subcommand -> (function, operands, *flags). Operands map each
# positional, named as the function's parameter, to its argparse type
# (or a tuple of choices); a trailing "?" makes one optional, left to the
# function's default when omitted. A flag sets its keyword to True.
COMMANDS = {
    "convert": (convert, {"input_path": _PATH, "output_dir": str},
                "--continue-on-error"),
    "to-parquet": (to_parquet, {"input_path": _PATH, "output_dir": str},
                   "--by-shard"),
    "compact": (compact_cmd, {"input_path": _PATH, "output_dir": str}),
    "merge": (merge_cmd, {"delta_path": _PATH, "landed_dir": _LANDED}),
    "delete-keys": (delete_keys_cmd,
                    {"keys_file": _PATH, "landed_dir": _LANDED}),
    "init-versioned": (init_versioned_cmd,
                       {"input_path": _PATH, "table_dir": str}, "--force"),
    "merge-versioned": (merge_versioned_cmd,
                        {"delta_path": _PATH, "table_dir": _TABLE}, "--mor"),
    "merge-into": (merge_into_cmd, {"delta_path": _PATH, "keys_file": _PATH,
                                    "table_dir": _TABLE}),
    "compact-versioned": (compact_versioned_cmd, {"table_dir": _TABLE}),
    "reshard-versioned": (reshard_versioned_cmd,
                          {"n_shards": _int_at_least(1), "table_dir": _TABLE}),
    "compact-respec": (compact_respec_cmd, {"table_dir": _TABLE}),
    "restore": (restore_cmd,
                {"version": _int_at_least(0), "table_dir": _TABLE}),
    "vacuum": (vacuum_cmd, {"retain": _int_at_least(1), "table_dir": _TABLE},
               "--no-grace"),
    "table-history": (table_history_cmd, {"table_dir": _TABLE}),
    "sstable-info": (sstable_info_cmd, {"input_path": _PATH}),
    "optimize-plan": (optimize_plan_cmd, {"input_path": _DIR}),
    "optimize": (optimize_cmd, {"input_path": _DIR}, "--until-stable"),
    "manifest": (manifest_cmd, {"action": ("init", "reconcile", "status"),
                                "input_dir": _DIR}),
    "maintenance-vacuum": (maintenance_vacuum_cmd,
                           {"input_dir": _DIR, "min_age_s?": _age_s}),
    "verify-digest": (verify_digest_cmd, {"input_path": _PATH}),
    "slice": (slice_cmd, {"input_path": _PATH, "name_start": str,
                          "name_end": str, "output_dir": str}),
    "build-corpus": (build_corpus_cmd, {"sf_dir": _SF, "out_dir": str}),
    "repair-diff": (repair_diff_cmd,
                    {"stale_path": _PATH, "synced_path": _PATH}),
    "analyze-events": (analyze_events_cmd, {"sf_dir": _SF, "out_dir": str}),
    "explain": (explain_cmd, {"query_name": str, "sf_dir?": _SF}),
    "check": (check_cmd, {"query_name": str, "sf_dir": _SF}),
    "list-queries": (list_queries_cmd, {}),
}


def _parser() -> argparse.ArgumentParser:
    parser = argparse.ArgumentParser(
        prog="python -m cassandra_sstable_to_protocolbuf_spark")
    commands = parser.add_subparsers(dest="command", required=True)
    for name, (fn, operands, *flags) in COMMANDS.items():
        sub = commands.add_parser(name, description=fn.__doc__,
                                  allow_abbrev=False)
        for operand, check in operands.items():
            sub.add_argument(
                operand.rstrip("?"),
                nargs="?" if operand.endswith("?") else None,
                **({"choices": check} if isinstance(check, tuple)
                   else {"type": check}))
        for flag in flags:
            sub.add_argument(flag, action="store_true")
    return parser


def main(argv: list[str]) -> int:
    args = vars(_parser().parse_args(argv))
    fn = COMMANDS[args.pop("command")][0]
    # an omitted optional operand parses as None, so the function's own
    # default applies (a string default would go through the type check)
    return fn(**{k: v for k, v in args.items() if v is not None})


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
