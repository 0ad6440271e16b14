"""The production extraction pipeline: scan -> extract -> bucketed write
+ lineage, resumable from a committed manifest.

Spark restatement of the reference's flagship request path (SURVEY.md
§3.1): the async-job lifecycle (reference api/routes/documents.py:255-339)
becomes batch-with-checkpoints — every run commits completed work units
to a manifest (the sandbox stand-in for Iceberg snapshot commits; the
substitution is documented in checkpoint.py), and a re-run processes only
uncommitted units (resume, north rule).

Scale design:
- **Work unit / partition key**: ``bucket = pmod(xxhash64(conv_id), B)``
  conversation-level buckets make resume tracking O(B), not O(rows).
- **No input shuffle**: extraction is per-turn independent and runs
  straight off the parquet/Iceberg scan splits; the only exchange in the
  job moves the (smaller) extracted output into the bucketed write
  layout. Lineage is aggregated from the written files (verify-what-
  committed), touching only metric columns.
- **Write salting**: the write shuffle salts on ``(conv_id, turn_idx)``
  (``_wsalt``) to bound files-per-bucket without hot write tasks.
"""

from __future__ import annotations

import pathlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from docling_api_spark.operators.extract import extract_text_column
from docling_api_spark.operators.metering import credits_col
from docling_api_spark.plans.checkpoint import Manifest, committed_view

DEFAULT_BUCKETS = 64
SALT_BLOCK = 4096  # turns per salt block; >max Arrow batch, < skew threshold
# minimum age before a .trash subdir left by another vacuum is reclaimed
# (a younger one may belong to a vacuum still renaming into it)
_TRASH_MIN_AGE = 3600.0  # seconds


def with_bucket(df: DataFrame, n_buckets: int = DEFAULT_BUCKETS) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def _salted_bucket_write(df: DataFrame, num_partitions: int,
                         files_per_bucket: int) -> DataFrame:
    """Shared write-shuffle shape for run_extraction and compact: salt on
    (conv_id, turn_idx) so each bucket fans out over ~files_per_bucket
    files instead of hashing whole onto one task."""
    return (
        df.withColumn(
            "_wsalt",
            F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(files_per_bucket)),
        )
        .repartition(num_partitions, "bucket", "_wsalt")
        .drop("_wsalt")
    )


def heavy_conversations(df: DataFrame) -> DataFrame:
    """Pass 1 of two-pass skew handling: find conversations whose turn
    count exceeds ``SALT_BLOCK``. The count is a map-side-combined groupBy
    on conv_id — tiny output (only the heavy tail survives the filter),
    suitable for broadcasting into pass 2. (SURVEY.md §4.2; the Scarlett-
    style 'detect heavy keys, then treat them specially' pattern.)"""
    return (
        df.groupBy("conv_id")
        .agg(F.count(F.lit(1)).alias("n_turns"))
        .filter(F.col("n_turns") > SALT_BLOCK)
    )


def skew_aware_repartition(df: DataFrame, num_partitions: int,
                           heavy: DataFrame) -> DataFrame:
    """Two-pass skew-aware shuffle: normal conversations hash whole on
    conv_id (co-located — cheapest for downstream per-conv consumers);
    conversations in the broadcast ``heavy`` set additionally salt on
    ``turn_idx // SALT_BLOCK`` so a 10^6-turn conversation spreads over
    ~250 partitions instead of one. ``heavy`` is pass 1's output
    (heavy_conversations)."""
    flagged = df.join(
        F.broadcast(heavy.select("conv_id", F.lit(True).alias("_heavy"))),
        "conv_id", "left",
    )
    salted = flagged.withColumn(
        "_salt",
        F.when(
            F.col("_heavy").isNotNull(),
            (F.col("turn_idx") / F.lit(SALT_BLOCK)).cast("int"),
        ).otherwise(F.lit(0)),
    )
    return (
        salted.repartition(num_partitions, "conv_id", "_salt")
        .drop("_salt", "_heavy")
    )


def run_extraction(
    spark: SparkSession,
    transcripts: DataFrame,
    output_dir: str,
    snapshot_id: str = "snap-0",
    n_buckets: int = DEFAULT_BUCKETS,
    num_partitions: int | None = None,
    limit_buckets: int | None = None,
    options=None,
) -> dict:
    """One (resumable) run. Returns a summary dict.

    ``limit_buckets`` processes at most that many pending buckets — used
    by tests to simulate a killed run, and in production to bound a
    single run's blast radius. ``options`` is an ``ExtractOptions``
    (output format / table toggle), a per-job constant in the UDF closure.
    """
    manifest = Manifest(output_dir)
    recorded_buckets = manifest.n_buckets()
    if recorded_buckets is not None and recorded_buckets != n_buckets:
        raise ValueError(
            f"resume with n_buckets={n_buckets} but {output_dir} was "
            f"committed with n_buckets={recorded_buckets}: rows would "
            "re-hash into already-committed bucket ids and be skipped"
        )
    done = manifest.committed_buckets()
    df = with_bucket(transcripts, n_buckets)

    # pending = the arithmetic complement of the committed set — O(B) in
    # the driver, NO scan of the input (at 100 TB a distinct() over the
    # bucket column would be a paid extra pass per resume). A pending
    # bucket with zero input rows simply commits empty.
    pending = sorted(set(range(n_buckets)) - done)
    if limit_buckets is not None:
        pending = pending[:limit_buckets]
    if not pending:
        return {"run_id": None, "buckets": [], "rows": 0, "resumed": True}
    if len(pending) == n_buckets:
        pending_df = df  # fresh run: no filter, scan feeds extraction directly
    else:
        pending_df = df.filter(F.col("bucket").isin(pending))

    # Extraction runs straight off the source scan — NO pre-shuffle: it is
    # per-turn independent, and shuffling the raw payload rows first costs
    # 2-3x the scan->extract pipeline (the scan's split sizing,
    # spark.sql.files.maxPartitionBytes, already load-balances; a heavy
    # conversation is just consecutive rows, split across scan partitions
    # like any other rows).
    extracted = extract_text_column(pending_df, text_col="text",
                                    options=options)

    # The only shuffle moves the *extracted* output (boilerplate already
    # stripped — smaller than the input) into the bucketed write layout;
    # _wsalt bounds files-per-bucket while keeping write parallelism.
    parts = num_partitions or spark.sparkContext.defaultParallelism * 2
    files_per_bucket = max(1, parts // n_buckets) * 2
    for_write = _salted_bucket_write(extracted, parts, files_per_bucket)

    run_id = manifest.next_run_id()
    data_dir = f"{output_dir}/data"
    # data is laid out run_id/bucket so that files from a killed,
    # never-committed run are invisible to committed_view (Iceberg
    # orphan-file semantics) and a resume can never double-count
    to_write = for_write.withColumn("run_id", F.lit(run_id))
    data_schema = to_write.schema  # recorded in the manifest (see commit)
    to_write.write.mode("append").partitionBy("run_id", "bucket").parquet(data_dir)

    # lineage from the data actually written (verify-what-committed): ONE
    # read-back pass aggregated to <=n_buckets rows, collected, and both
    # (a) appended to the lineage table and (b) summed for the run's row
    # count — no second full count() job over the written files. The
    # explicit schema makes a zero-row run (empty input) readable — no
    # UNABLE_TO_INFER_SCHEMA on a file-less partitioned dir.
    written = spark.read.schema(data_schema).parquet(data_dir).filter(
        (F.col("run_id") == run_id) & F.col("bucket").isin(pending)
    )
    lineage_rows = (
        written.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("rows_out"),
            F.count(F.lit(1)).alias("rows_in"),  # extraction is 1:1
            F.sum((F.col("status") == "success").cast("long")).alias("n_success"),
            F.sum((F.col("status") == "error").cast("long")).alias("n_error"),
            F.sum((F.col("status") == "skipped_ocr").cast("long")).alias("n_skipped_ocr"),
            F.sum((F.col("payload_kind") == "oversize").cast("long")).alias("n_oversize"),
            F.sum("pages").alias("pages"),
            F.sum(credits_col(F.col("pages"))).alias("credits"),
        )
        .collect()
    )
    from docling_api_spark.schema import LINEAGE_SCHEMA

    lineage = spark.createDataFrame(
        [
            (run_id, snapshot_id, int(r["bucket"]), int(r["rows_in"]),
             int(r["rows_out"]), int(r["n_success"]), int(r["n_error"]),
             int(r["n_skipped_ocr"]), int(r["n_oversize"]), int(r["pages"]),
             int(r["credits"]))
            for r in lineage_rows
        ],
        schema=LINEAGE_SCHEMA,
    )
    lineage.coalesce(1).write.mode("append").parquet(f"{output_dir}/lineage")

    rows = sum(int(r["rows_out"]) for r in lineage_rows)
    manifest.commit(run_id, snapshot_id, pending,
                    data_schema_json=data_schema.json(),
                    expect_data=rows > 0, n_buckets=n_buckets)
    return {"run_id": run_id, "buckets": pending, "rows": rows, "resumed": bool(done)}


def compact(spark: SparkSession, output_dir: str,
            files_per_bucket: int = 1) -> dict:
    """Rewrite all committed data into one fresh run with
    ``files_per_bucket`` files per bucket — the Iceberg
    rewrite-data-files analog. Every resume appends files to its buckets,
    so a long-lived output accretes small files; compaction folds them.

    Safety: the new run is fully written BEFORE the manifest atomically
    swaps the runs list, and the committed-bucket set never changes, so a
    crash mid-compaction leaves the previous state fully readable and a
    rerun is idempotent. Must not race an in-flight extraction run.
    """
    manifest = Manifest(output_dir)
    committed = committed_view(spark, output_dir)
    run_id = manifest.next_run_id()
    data_dir = f"{output_dir}/data"
    n_buckets = max(len(manifest.committed_buckets()), 1)
    (
        _salted_bucket_write(
            committed.withColumn("run_id", F.lit(run_id)),
            n_buckets * files_per_bucket, files_per_bucket,
        )
        .write.mode("append")
        .partitionBy("run_id", "bucket")
        .parquet(data_dir)
    )
    # read-back with the recorded schema (like run_extraction): inference
    # fails on a file-less dir when every committed run was zero-row
    from docling_api_spark.plans.checkpoint import manifest_data_reader

    rows = (
        manifest_data_reader(spark, manifest).parquet(data_dir)
        .filter(F.col("run_id") == run_id).count()
    )
    manifest.replace_runs(run_id, snapshot_id=f"compact-{run_id}",
                          expect_data=rows > 0)
    return {"run_id": run_id, "rows": rows,
            "buckets": sorted(manifest.committed_buckets())}


def vacuum(output_dir: str, grace_seconds: float = 86400.0,
           force: bool = False) -> list[str]:
    """Delete data directories of runs no longer referenced by the
    manifest — the Iceberg expire-snapshots/remove-orphan-files analog.

    Policy per non-live ``run_id=*`` dir:
    - RETIRED (replaced by a compaction commit): reclaim immediately —
      its rows live on in the compacted run.
    - LEASED (in-flight, id reserved but never committed): NEVER
      reclaimed unless ``force=True`` — a long stall between parquet
      write and commit is indistinguishable from a crash by mtime alone,
      and deleting a live run's data would let its later commit mark
      buckets committed with the data gone (the commit itself also
      re-checks the dir and refuses, belt and braces). ``force`` is the
      operator's assertion that no runs are in flight.
    - unknown orphans (no lease, no manifest entry): reclaim only after
      the dir has been idle for ``grace_seconds`` — covers the race
      where a live run's lease was pruned while its first write job was
      still staging (no run_id dir yet): when the dir appears it is
      'unknown' but fresh, so it survives until the run commits.
    The slow work stays outside the manifest lock: the phase-1 mtime
    walk stats ONLY dirs a lock-free snapshot cannot classify (unknown
    orphans — live/retired/leased dirs may hold the whole dataset and
    never need their grace computed), and phase 2, under the lock,
    re-validates each candidate then atomically RENAMES it into
    ``.trash/`` in the same step that settles its lease/retired entry —
    so a commit() racing the vacuum either sees the dir (and commits) or
    sees it gone (and refuses), while the recursive delete of the
    renamed dirs runs after the lock is released.
    Physical deletion is best-effort and retryable: each vacuum
    invocation renames into its OWN ``.trash/vac-<pid>-<ns>/`` subdir
    (no name collisions with leftovers or a concurrent vacuum), and
    phase 0 clears only trash subdirs older than ``_TRASH_MIN_AGE`` —
    young subdirs may belong to a vacuum still running. The returned
    list reports dirs reclaimed from the data layout (invisible to every
    reader the moment the rename lands); bytes whose delete failed stay
    in ``.trash`` and are retried by later vacuums.
    Dir-less leases/retired entries past grace are settled too, so the
    manifest stays bounded across crash/compaction cycles. mtime is an
    ops-plane staleness signal only — nothing in the data plane depends
    on it."""
    import os
    import shutil
    import time

    manifest = Manifest(output_dir)
    now = time.time()
    out_root = pathlib.Path(output_dir)
    data = out_root / "data"
    trash_root = out_root / ".trash"

    # Phase 0 (lock-free): clear aged trash — leftovers of a vacuum that
    # crashed (or failed its deletes) after renaming. The age gate keeps
    # this from racing a concurrent vacuum's still-in-use subdir.
    if trash_root.exists():
        for t in trash_root.iterdir():
            try:
                aged = now - t.stat().st_mtime >= _TRASH_MIN_AGE
            except OSError:
                continue  # already being removed by a concurrent vacuum
            if aged:
                shutil.rmtree(t, ignore_errors=True)

    # Phase 1 (lock-free): stat mtimes of UNKNOWN dirs only.
    snap = manifest.snapshot()
    classified = ({r["run_id"] for r in snap["runs"]}
                  | set(snap["retired"]) | set(snap["inflight"]))
    idle_enough: dict[str, bool] = {}
    if data.exists():
        for d in sorted(data.glob("run_id=*")):
            rid = d.name.split("=", 1)[1]
            if rid in classified:
                continue  # grace is never consulted for these in phase 2
            try:
                newest = max(p.stat().st_mtime for p in d.rglob("*") if p.is_file())
            except ValueError:
                newest = d.stat().st_mtime
            idle_enough[rid] = now - newest >= grace_seconds

    removed: list[str] = []
    my_trash: pathlib.Path | None = None
    # Phase 2 (locked): re-read the manifest, decide, and rename + settle
    # atomically against concurrent commits (rename is O(1); the
    # recursive delete happens after the lock is released).
    with manifest.mutate() as state:
        live = {r["run_id"] for r in state["runs"]}
        leases = state["inflight"]
        retired = set(state["retired"])
        dirs_seen = set()
        if data.exists():
            for d in sorted(data.glob("run_id=*")):
                rid = d.name.split("=", 1)[1]
                dirs_seen.add(rid)
                if rid in live:
                    continue
                if rid in retired:
                    pass  # rows live on in the compacted run
                elif rid in leases:
                    if not force:
                        continue  # possibly in flight — operator must force
                elif not idle_enough.get(rid, False):
                    continue  # unknown but fresh (or re-classified since
                    # the lock-free snapshot): leave it for the next pass
                # per-invocation subdir: collision-free vs leftovers and
                # concurrent vacuums (ops-plane uniqueness — the data
                # plane never reads trash)
                if my_trash is None:
                    my_trash = (trash_root
                                / f"vac-{os.getpid()}-{time.monotonic_ns()}")
                    my_trash.mkdir(parents=True, exist_ok=True)
                # a concurrent vacuum's phase 0 can age out OUR subdir
                # (this vacuum stalled > _TRASH_MIN_AGE between renames)
                # — retry with a FRESH subdir (fresh mkdir resets its
                # age) rather than abort the settle mid-mutation; if the
                # SOURCE dir vanished instead (reclaimed externally),
                # fall through and settle its entries anyway.
                for _attempt in range(3):
                    try:
                        d.rename(my_trash / d.name)
                        break
                    except FileNotFoundError:
                        if not d.exists():
                            break  # source gone: nothing left to move
                        my_trash = (
                            trash_root
                            / f"vac-{os.getpid()}-{time.monotonic_ns()}"
                        )
                        my_trash.mkdir(parents=True, exist_ok=True)
                else:
                    d.rename(my_trash / d.name)  # out of retries: raise
                removed.append(d.name)
                leases.pop(rid, None)
                retired.discard(rid)
        stale_dirless = [
            rid for rid, reserved_at in list(leases.items())
            if rid not in dirs_seen and rid not in live
            and now - reserved_at >= grace_seconds
        ]
        for rid in stale_dirless:
            leases.pop(rid, None)
        # retired runs whose dirs are already gone (zero-row runs never
        # write a dir; or a prior vacuum crashed before its delete) —
        # settle them too, or the retired list grows one entry per
        # compaction cycle
        state["retired"] = sorted(r for r in retired if r in dirs_seen)
    # Phase 3 (lock-free): the slow recursive deletes — best-effort; a
    # failed delete stays in .trash and is retried by a later phase 0.
    if my_trash is not None:
        shutil.rmtree(my_trash, ignore_errors=True)
    return removed


def job_status(spark: SparkSession, output_dir: str) -> DataFrame:
    """The reference's GET /v1/status analog (documents.py:302-339): job
    state derived from committed lineage, not from mutable driver state."""
    manifest = Manifest(output_dir)
    from docling_api_spark.schema import LINEAGE_SCHEMA
    # Read with the EXPLICIT current schema, not footer inference: a
    # resumed pre-upgrade output dir holds lineage files written before
    # n_oversize existed next to post-upgrade ones, and an inferred read
    # would adopt whichever file's footer Spark samples first (the column
    # flickering in and out run-to-run). With the pinned schema, old rows
    # deterministically surface n_oversize as NULL ("recorded before the
    # counter existed"), new rows carry the real count.
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(
        f"{output_dir}/lineage")
    done = manifest.committed_buckets()
    return lineage.filter(F.col("partition_id").isin(sorted(done))).orderBy(
        "run_id", "partition_id"
    )
