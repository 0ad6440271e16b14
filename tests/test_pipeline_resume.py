"""Resumability test (SURVEY.md §5.2.5): partial run -> 'kill' -> resume
-> output identical to a single-shot run; lineage shows committed
partitions; orphan files from uncommitted work never surface."""

from __future__ import annotations

import pandas as pd
import pytest

from tests.conftest import canon_spans

N_CONVS = 40


@pytest.fixture()
def transcripts(spark):
    from docling_api_spark.gen import transcripts_df

    return transcripts_df(spark, N_CONVS, partitions=4)


def _read_committed(spark, out_dir) -> pd.DataFrame:
    from docling_api_spark.plans.checkpoint import committed_view

    pdf = committed_view(spark, str(out_dir)).toPandas()
    pdf["spans_json"] = pdf["spans"].map(canon_spans)
    return (
        pdf.drop(columns=["spans", "run_id", "bucket"])
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )


def test_partial_then_resume_equals_single_shot(spark, transcripts, tmp_path,
                                               monkeypatch):
    from pyspark.sql import functions as F

    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.plans import pipeline
    from docling_api_spark.plans.pipeline import run_extraction, with_bucket

    single = tmp_path / "single"
    split = tmp_path / "split"

    s1 = run_extraction(spark, transcripts, str(single), n_buckets=8)
    assert len(s1["buckets"]) == 8 and not s1["resumed"]

    # partial run: only 3 buckets committed (simulates a killed run)
    p1 = run_extraction(spark, transcripts, str(split), n_buckets=8,
                        limit_buckets=3)
    assert len(p1["buckets"]) == 3
    # resume: picks up ONLY the remaining 5
    p2 = run_extraction(spark, transcripts, str(split), n_buckets=8)
    assert p2["resumed"] and len(p2["buckets"]) == 5
    assert set(p1["buckets"]).isdisjoint(p2["buckets"])
    # idempotent third run: nothing to do
    p3 = run_extraction(spark, transcripts, str(split), n_buckets=8)
    assert p3["buckets"] == []

    # the same resume over a longer history: two committed runs plus an
    # orphan dir written without a commit. The resume's read-back must
    # list only its own run's dir, whatever else sits under data/.
    history = tmp_path / "history"
    for limit in (2, 3):
        run_extraction(spark, transcripts, str(history), n_buckets=8,
                       limit_buckets=limit)
    extract_text_column(with_bucket(transcripts, 8)).withColumn(
        "run_id", F.lit("run-dead")
    ).write.mode("append").partitionBy("run_id", "bucket").parquet(
        f"{history}/data"
    )
    read_backs, real_write_run = [], pipeline.write_run

    def spy_write_run(*args):
        schema, written = real_write_run(*args)
        read_backs.append(written)
        return schema, written

    with monkeypatch.context() as m:
        m.setattr(pipeline, "write_run", spy_write_run)
        h = run_extraction(spark, transcripts, str(history), n_buckets=8)
    assert h["resumed"] and len(h["buckets"]) == 3 and len(read_backs) == 1
    files = read_backs[0].inputFiles()
    assert files and all(f"/data/run_id={h['run_id']}/" in f for f in files)

    a = _read_committed(spark, single)
    for out in (split, history):
        b = _read_committed(spark, out)
        assert len(a) == len(b) > 0
        pd.testing.assert_frame_equal(
            a[sorted(a.columns)], b[sorted(b.columns)], check_like=True
        )


def test_orphan_files_invisible(spark, transcripts, tmp_path):
    """Files written by a run that never committed must not appear in the
    committed view (Iceberg orphan-file semantics)."""
    from docling_api_spark.plans.checkpoint import Manifest, committed_view
    from docling_api_spark.plans.pipeline import run_extraction, with_bucket
    from docling_api_spark.operators.extract import extract_text_column
    from pyspark.sql import functions as F

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), n_buckets=4, limit_buckets=2)
    committed_before = committed_view(spark, str(out)).count()

    # simulate a crash: write data for another bucket WITHOUT committing
    df = with_bucket(transcripts, 4)
    orphan_bucket = [
        b for b in range(4) if b not in Manifest(str(out)).committed_buckets()
    ][0]
    orphan = extract_text_column(
        df.filter(F.col("bucket") == orphan_bucket)
    ).withColumn("run_id", F.lit("run-dead"))
    orphan.write.mode("append").partitionBy("run_id", "bucket").parquet(
        f"{out}/data"
    )

    assert committed_view(spark, str(out)).count() == committed_before
    # only committed runs' dirs are listed: the orphan's files are not
    # even part of the read
    files = committed_view(spark, str(out)).inputFiles()
    assert files and not any("/run_id=run-dead/" in f for f in files)


def test_crashed_run_id_is_burned_not_reused(spark, transcripts, tmp_path):
    """A run that reserves an id and writes data but crashes before
    commit must NOT have its id recycled — the next run appends under a
    fresh id and the orphan rows stay invisible (no double counting)."""
    from pyspark.sql import functions as F

    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.plans.checkpoint import Manifest, committed_view
    from docling_api_spark.plans.pipeline import run_extraction, with_bucket

    out = tmp_path / "out"
    m = Manifest(str(out))
    # simulate the crashed run: id reserved, parquet written, NO commit
    dead_id = m.next_run_id()
    orphan = extract_text_column(with_bucket(transcripts, 4)).withColumn(
        "run_id", F.lit(dead_id)
    )
    orphan.write.mode("append").partitionBy("run_id", "bucket").parquet(
        f"{out}/data"
    )
    assert dead_id in m.snapshot()["inflight"]

    # the real run gets a DIFFERENT id; its output excludes orphan rows
    s = run_extraction(spark, transcripts, str(out), n_buckets=4)
    assert s["run_id"] != dead_id
    n_input = transcripts.count()
    assert s["rows"] == n_input
    assert committed_view(spark, str(out)).count() == n_input
    assert s["run_id"] not in m.snapshot()["inflight"]  # settled by commit


def test_crash_before_commit_leaves_no_lineage(spark, transcripts, tmp_path,
                                               monkeypatch):
    """A run that writes its data but dies in the manifest commit must
    leave no lineage behind: after the resume, status has one row per
    committed bucket and its rows_out total equals the committed data —
    the crashed run's buckets are not counted twice."""
    from docling_api_spark.plans.checkpoint import Manifest, committed_view
    from docling_api_spark.plans.pipeline import job_status, run_extraction

    out = str(tmp_path / "out")

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before commit")

    with monkeypatch.context() as m:
        m.setattr(Manifest, "commit", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_extraction(spark, transcripts, out, n_buckets=4)
    assert Manifest(out).committed_buckets() == set()
    assert job_status(spark, out).count() == 0

    s = run_extraction(spark, transcripts, out, n_buckets=4)
    assert len(s["buckets"]) == 4
    status = job_status(spark, out).toPandas()
    assert sorted(status["partition_id"]) == sorted(
        Manifest(out).committed_buckets())
    assert status["rows_out"].sum() == committed_view(spark, out).count() > 0


def test_committed_view_on_fresh_dir(spark, tmp_path):
    """committed_view on an output dir where no run ever wrote must
    return an empty frame, not raise PATH_NOT_FOUND from the parquet
    reader (the guard has to run BEFORE the data-path read)."""
    from docling_api_spark.plans.checkpoint import committed_view

    out = tmp_path / "never_written"
    assert committed_view(spark, str(out)).count() == 0


def test_job_status_on_fresh_dir(spark, tmp_path):
    """job_status (cli status) on an output dir where no run ever wrote
    must return an empty frame with the lineage schema, not raise
    PATH_NOT_FOUND for the missing lineage dir."""
    from docling_api_spark.plans.pipeline import job_status
    from docling_api_spark.schema import LINEAGE_SCHEMA

    status = job_status(spark, str(tmp_path / "never_written"))
    assert status.schema == LINEAGE_SCHEMA and status.count() == 0


def test_run_tail_lists_and_writes_lineage_without_jobs(spark, tmp_path):
    """A run launches three Spark jobs: one single-stage job that scans,
    extracts and writes (no exchange), and two for the lineage
    read-back. Each write task puts its file straight into the run's dir,
    with no bucket=B dirs. Listing the run's dir and writing the lineage
    file happen in this process, so neither adds a job."""
    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.plans.pipeline import run_extraction

    out = tmp_path / "out"
    sc = spark.sparkContext
    sc.setJobGroup("run-tail-jobs", "jobs of one run_extraction")
    try:
        s = run_extraction(spark, transcripts_df(spark, 100, partitions=4),
                           str(out), n_buckets=64)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)  # clear the group
    # job status reaches the tracker through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    run_dir = out / "data" / f"run_id={s['run_id']}"
    assert list(run_dir.glob("*.parquet"))
    assert not list(run_dir.glob("bucket=*"))
    tracker = sc.statusTracker()
    jobs = sorted(tracker.getJobIdsForGroup("run-tail-jobs"))
    assert len(jobs) == 3
    assert len(tracker.getJobInfo(jobs[0]).stageIds) == 1  # the write


def test_lineage_is_one_file_per_run(spark, transcripts, tmp_path):
    """Each committed run leaves exactly one lineage file named by its
    run id (no tmp file, no _temporary dir); the reader perfbench uses
    (pyarrow), job_status and the committed data agree on the totals;
    writing a run's lineage again replaces its file, never adds rows."""
    import os

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from docling_api_spark.plans.checkpoint import committed_view, write_lineage
    from docling_api_spark.plans.pipeline import job_status, run_extraction

    out = str(tmp_path / "out")
    r1 = run_extraction(spark, transcripts, out, n_buckets=8, limit_buckets=2)
    r2 = run_extraction(spark, transcripts, out, n_buckets=8)
    files = sorted(f"part-{r['run_id']}.parquet" for r in (r1, r2))
    assert sorted(os.listdir(f"{out}/lineage")) == files

    cols = ("rows_out", "n_error", "pages")

    def totals():
        lin = pq.read_table(f"{out}/lineage").to_pydict()
        status = job_status(spark, out).agg(
            *[F.sum(c).alias(c) for c in cols]).first().asDict()
        return {c: sum(lin[c]) for c in cols}, status

    committed = committed_view(spark, out).agg(
        F.count(F.lit(1)).alias("rows_out"),
        F.sum((F.col("status") == "error").cast("long")).alias("n_error"),
        F.sum("pages").alias("pages"),
    ).first().asDict()
    assert committed["rows_out"] == transcripts.count()
    assert totals() == (committed, committed)

    write_lineage(out, r2["run_id"], job_status(spark, out)
                  .filter(F.col("run_id") == r2["run_id"]).collect())
    assert sorted(os.listdir(f"{out}/lineage")) == files
    assert totals() == (committed, committed)


def test_legacy_manifest_migration_burns_retired_ids(tmp_path):
    """Migrating a pre-run_counter manifest must seed the counter past
    every id still visible in runs, retired entries, and on-disk data
    dirs — len(runs) would recycle ids burned by compaction/crashes and
    resurrect their stale rows."""
    import json as _json

    from docling_api_spark.plans.checkpoint import Manifest

    out = tmp_path / "out"
    out.mkdir()
    # a compacted pre-counter manifest: one surviving run, two retired
    (out / "manifest.json").write_text(_json.dumps({
        "runs": [{"run_id": "run-0002", "snapshot_id": "s", "buckets": [0]}],
        "buckets": [0],
        "retired": ["run-0000", "run-0001"],
    }))
    # plus an orphan dir from a crashed run that burned a later id
    (out / "data" / "run_id=run-0005").mkdir(parents=True)
    m = Manifest(str(out))
    assert m._read()["run_counter"] == 6
    assert m.next_run_id() == "run-0006"


def test_noop_resume_reserves_no_id(spark, transcripts, tmp_path):
    from docling_api_spark.plans.checkpoint import Manifest
    from docling_api_spark.plans.pipeline import run_extraction

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), n_buckets=4)
    counter_before = Manifest(str(out))._read()["run_counter"]
    p = run_extraction(spark, transcripts, str(out), n_buckets=4)
    assert p["buckets"] == [] and p["run_id"] is None
    assert Manifest(str(out))._read()["run_counter"] == counter_before


def test_vacuum_spares_inflight_run_within_grace(spark, transcripts, tmp_path):
    """vacuum must not delete an uncommitted dir of a LEASED run — not
    even past the grace period (a stalled live run is indistinguishable
    from a crash by mtime; only an explicit force reclaims it), and a
    commit whose data dir was force-reclaimed must refuse instead of
    committing buckets with their data gone."""
    import pathlib

    import pytest
    from pyspark.sql import functions as F

    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.plans.checkpoint import Manifest
    from docling_api_spark.plans.pipeline import run_extraction, vacuum, with_bucket

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), n_buckets=4, limit_buckets=2)
    m = Manifest(str(out))
    live_id = m.next_run_id()  # a concurrent run, mid-write
    extract_text_column(with_bucket(transcripts, 4)).limit(50).withColumn(
        "run_id", F.lit(live_id)
    ).write.mode("append").partitionBy("run_id", "bucket").parquet(f"{out}/data")

    assert vacuum(str(out)) == []  # in-flight dir spared
    assert any(
        d.name == f"run_id={live_id}"
        for d in (pathlib.Path(out) / "data").glob("run_id=*")
    )
    # grace alone never overrides a lease — the stall could be a live run
    assert vacuum(str(out), grace_seconds=0.0) == []
    # only the operator's explicit force reclaims a leased dir...
    removed = vacuum(str(out), grace_seconds=0.0, force=True)
    assert removed == [f"run_id={live_id}"]
    # ...and if that run WAS alive after all, its commit refuses loudly
    with pytest.raises(RuntimeError, match="missing"):
        m.commit(live_id, "snap-x", [2, 3], expect_data=True)
    assert m.committed_buckets() == {0, 1}  # nothing half-committed


def test_resume_rejects_different_bucketing(spark, transcripts, tmp_path):
    """Resuming an output dir with a different n_buckets must raise:
    rows would re-hash into already-committed bucket ids and silently
    never be extracted."""
    import pytest

    from docling_api_spark.plans.pipeline import run_extraction

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), n_buckets=4, limit_buckets=2)
    with pytest.raises(ValueError, match="n_buckets"):
        run_extraction(spark, transcripts, str(out), n_buckets=8)
    # same bucketing still resumes fine
    s = run_extraction(spark, transcripts, str(out), n_buckets=4)
    assert s["resumed"] and s["buckets"] == [2, 3]


def test_empty_input_run_is_graceful(spark, tmp_path):
    """A fresh run over a zero-row input must commit (empty) buckets and
    stay readable — no schema-inference crash on the file-less data dir."""
    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.plans.checkpoint import committed_view
    from docling_api_spark.plans.pipeline import run_extraction

    out = tmp_path / "out"
    empty = transcripts_df(spark, 1).limit(0)
    s = run_extraction(spark, empty, str(out), n_buckets=4)
    assert s["rows"] == 0 and len(s["buckets"]) == 4
    assert committed_view(spark, str(out)).count() == 0
    p = run_extraction(spark, empty, str(out), n_buckets=4)
    assert p["buckets"] == [] and p["resumed"]
    # compaction over an all-zero-row output is also readable (schema
    # from the manifest, not inference)
    from docling_api_spark.plans.pipeline import compact

    c = compact(spark, str(out))
    assert c["rows"] == 0
    assert committed_view(spark, str(out)).count() == 0


def test_compact_with_nothing_committed(spark, transcripts, tmp_path,
                                        monkeypatch):
    """compact on an output with no committed bucket — a fresh dir, and
    one whose first run crashed before its commit — is a no-op that
    reserves no run id: it returns run_id None and leaves run_counter
    and the in-flight leases as they were."""
    from docling_api_spark.plans.checkpoint import Manifest
    from docling_api_spark.plans.pipeline import compact, run_extraction

    fresh = str(tmp_path / "fresh")
    assert compact(spark, fresh) == {"run_id": None, "rows": 0,
                                     "buckets": []}
    assert Manifest(fresh)._read()["run_counter"] == 0
    assert Manifest(fresh)._read()["inflight"] == {}

    crashed = str(tmp_path / "crashed")

    def crash(*args, **kwargs):
        raise RuntimeError("injected crash before commit")

    with monkeypatch.context() as m:
        m.setattr(Manifest, "commit", crash)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_extraction(spark, transcripts, crashed, n_buckets=4)
    before = Manifest(crashed)._read()
    assert before["run_counter"] == 1 and list(before["inflight"]) == [
        "run-0000"]
    assert compact(spark, crashed) == {"run_id": None, "rows": 0,
                                       "buckets": []}
    after = Manifest(crashed)._read()
    assert after["run_counter"] == before["run_counter"]
    assert after["inflight"] == before["inflight"]


def test_lineage_metrics(spark, transcripts, tmp_path):
    """North rule: per-partition lineage with rows in/out + error counts
    + pages + credits (usage_records analog)."""
    from docling_api_spark.plans.pipeline import job_status, run_extraction

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), snapshot_id="snap-test",
                   n_buckets=8)
    lineage = job_status(spark, str(out)).toPandas()
    assert set(lineage["partition_id"]) == set(range(8))
    assert (lineage["snapshot_id"] == "snap-test").all()
    assert (lineage["rows_in"] == lineage["rows_out"]).all()
    total = lineage[["rows_out", "n_success", "n_error", "n_skipped_ocr",
                     "n_oversize"]].sum()
    assert total["rows_out"] == total["n_success"] + total["n_error"] + total["n_skipped_ocr"]
    # the oversize breakout is a subset of n_error, and the synthetic
    # corpus is generated with at least one over-cap payload (gen.py)
    assert 1 <= total["n_oversize"] <= total["n_error"]
    # credits floor: every doc >= 1 credit (reference documents.py:35-41)
    assert (lineage["credits"] >= lineage["rows_out"]).all()
    assert (lineage["pages"] >= lineage["n_success"]).all()


def test_lineage_schema_evolution(spark, transcripts, tmp_path):
    """A resumed pre-upgrade output dir holds lineage files written
    before the n_oversize column existed next to post-upgrade ones.
    job_status must read the mixed directory DETERMINISTICALLY: old rows
    surface n_oversize as NULL (recorded before the counter existed),
    new rows carry the real count — never a schema that flickers with
    whichever file's footer Spark samples first."""
    from pyspark.sql import functions as F

    from docling_api_spark.plans.pipeline import job_status, run_extraction

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), snapshot_id="snap-new",
                   n_buckets=4)
    # simulate a pre-upgrade run: append lineage rows WITHOUT n_oversize
    # (the 10-column layout) into the same directory
    legacy = (
        spark.read.parquet(f"{out}/lineage")
        .drop("n_oversize")
        .withColumn("run_id", F.lit("legacy-run"))
        .withColumn("snapshot_id", F.lit("snap-old"))
    )
    legacy.coalesce(1).write.mode("append").parquet(f"{out}/lineage")

    status = job_status(spark, str(out)).toPandas()
    assert "n_oversize" in status.columns
    old = status[status["snapshot_id"] == "snap-old"]
    new = status[status["snapshot_id"] == "snap-new"]
    assert len(old) == 4 and len(new) == 4
    assert old["n_oversize"].isna().all()
    assert new["n_oversize"].notna().all() and new["n_oversize"].sum() >= 1


def test_compact_and_vacuum(spark, tmp_path):
    """Compaction folds multi-run small files into one run per the
    committed set, with fewer files; content identical; vacuum removes
    orphaned run dirs; a later incremental run still works (no run-id
    recycling)."""
    import pathlib

    from docling_api_spark.gen import transcripts_df
    from docling_api_spark.plans.checkpoint import Manifest
    from docling_api_spark.plans.pipeline import compact, run_extraction, vacuum

    out = tmp_path / "out"
    # two runs -> one small file per input split under two run_id dirs
    # (more splits than the session's cores, so the compaction scan packs
    # several files into each of its splits)
    transcripts = transcripts_df(spark, N_CONVS, partitions=16)
    run_extraction(spark, transcripts, str(out), n_buckets=8, limit_buckets=3)
    run_extraction(spark, transcripts, str(out), n_buckets=8)
    before = _read_committed(spark, out)
    data = pathlib.Path(out) / "data"
    dirs_before = {d.name for d in data.glob("run_id=*")}
    assert len(dirs_before) == 2
    files_before = sum(len(list((data / d).glob("*.parquet")))
                       for d in dirs_before)

    summary = compact(spark, str(out))
    assert summary["rows"] == len(before)
    compacted = data / f"run_id={summary['run_id']}"
    assert 0 < len(list(compacted.glob("*.parquet"))) < files_before
    assert not list(compacted.glob("bucket=*"))
    after = _read_committed(spark, out)
    pd.testing.assert_frame_equal(
        before[sorted(before.columns)], after[sorted(after.columns)],
        check_like=True,
    )
    # manifest now references ONLY the compaction run; bucket set unchanged
    m = Manifest(str(out))
    assert [r["run_id"] for r in m.runs()] == [summary["run_id"]]
    assert sorted(m.committed_buckets()) == summary["buckets"]

    removed = vacuum(str(out))
    assert set(removed) == {f"run_id={d}" for d in
                            {n.split("=", 1)[1] for n in dirs_before}}
    assert {d.name for d in data.glob("run_id=*")} == {
        f"run_id={summary['run_id']}"
    }
    # content still intact after vacuum
    pd.testing.assert_frame_equal(
        before[sorted(before.columns)],
        _read_committed(spark, out)[sorted(before.columns)],
        check_like=True,
    )
    # resume is still a no-op, and run ids never recycle
    p = run_extraction(spark, transcripts, str(out), n_buckets=8)
    assert p["buckets"] == []
    assert int(m.next_run_id().split("-")[1]) > int(
        summary["run_id"].split("-")[1]
    )


def test_crash_resume_compact_vacuum_end_to_end(spark, transcripts, tmp_path):
    """The full lifecycle as ONE invariant: a crashed run (id reserved,
    data written, never committed) -> resume -> compact -> force-vacuum
    must end with exactly one run dir on disk and a committed view
    byte-identical to a single-shot run over the same input."""
    import pathlib

    from pyspark.sql import functions as F

    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.plans.checkpoint import Manifest
    from docling_api_spark.plans.pipeline import (
        compact,
        run_extraction,
        vacuum,
        with_bucket,
    )

    single = tmp_path / "single"
    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(single), n_buckets=8)
    golden = _read_committed(spark, single)

    # partial run, then a crash mid-second-run: id reserved + data
    # written for the remaining buckets, but never committed
    run_extraction(spark, transcripts, str(out), n_buckets=8, limit_buckets=3)
    m = Manifest(str(out))
    dead_id = m.next_run_id()
    done = m.committed_buckets()
    extract_text_column(
        with_bucket(transcripts, 8).filter(~F.col("bucket").isin(sorted(done)))
    ).withColumn("run_id", F.lit(dead_id)).write.mode("append").partitionBy(
        "run_id", "bucket"
    ).parquet(f"{out}/data")

    # resume re-extracts the crashed buckets under a fresh id
    r = run_extraction(spark, transcripts, str(out), n_buckets=8)
    assert r["resumed"] and r["run_id"] != dead_id
    # compact folds the two committed runs; the orphan stays invisible
    summary = compact(spark, str(out))
    assert summary["rows"] == len(golden)
    # plain vacuum reclaims the retired dirs but spares the leased orphan
    removed = vacuum(str(out))
    assert f"run_id={dead_id}" not in set(removed) and len(removed) == 2
    # force-vacuum (operator asserts nothing in flight) reclaims it too
    removed_forced = vacuum(str(out), grace_seconds=0.0, force=True)
    assert removed_forced == [f"run_id={dead_id}"]
    data = pathlib.Path(out) / "data"
    assert {d.name for d in data.glob("run_id=*")} == {
        f"run_id={summary['run_id']}"
    }
    # manifest fully settled: no leases, no retired entries
    state = m.snapshot()
    assert state["inflight"] == {} and state["retired"] == []
    # the committed view is byte-identical to the single-shot run
    final = _read_committed(spark, out)
    pd.testing.assert_frame_equal(
        golden[sorted(golden.columns)], final[sorted(final.columns)],
        check_like=True,
    )


def test_resume_over_bucket_dir_layout(spark, transcripts, tmp_path):
    """An output whose committed run holds one bucket=B dir per bucket
    (the layout runs were written in before each write task wrote its
    file straight into the run dir) resumes, reads, compacts and vacuums
    under the flat layout: committed_view equals a single-shot run, with
    the same columns in the same order, and compaction plus vacuum leave
    one flat run dir with identical content."""
    import pathlib

    from pyspark.sql import functions as F

    from docling_api_spark.operators.extract import extract_text_column
    from docling_api_spark.plans.checkpoint import Manifest, committed_view
    from docling_api_spark.plans.pipeline import (
        compact,
        run_extraction,
        vacuum,
        with_bucket,
    )

    single = tmp_path / "single"
    run_extraction(spark, transcripts, str(single), n_buckets=8)
    golden = _read_committed(spark, single)
    columns = committed_view(spark, str(single)).columns

    # a run written and committed in the bucket-dir layout
    out = tmp_path / "out"
    m = Manifest(str(out))
    old_id = m.next_run_id()
    old = extract_text_column(
        with_bucket(transcripts, 8).filter(F.col("bucket").isin([0, 1, 2]))
    ).withColumn("run_id", F.lit(old_id))
    old.write.mode("append").partitionBy("run_id", "bucket").parquet(
        f"{out}/data"
    )
    m.commit(old_id, "snap-0", [0, 1, 2], data_schema_json=old.schema.json(),
             expect_data=True, n_buckets=8)
    assert committed_view(spark, str(out)).columns == columns

    r = run_extraction(spark, transcripts, str(out), n_buckets=8)
    assert r["resumed"] and r["buckets"] == [3, 4, 5, 6, 7]
    data = pathlib.Path(out) / "data"
    assert not list((data / f"run_id={r['run_id']}").glob("bucket=*"))
    assert committed_view(spark, str(out)).columns == columns
    pd.testing.assert_frame_equal(
        golden[sorted(golden.columns)],
        _read_committed(spark, out)[sorted(golden.columns)],
    )

    summary = compact(spark, str(out))
    assert summary["rows"] == len(golden)
    assert len(vacuum(str(out))) == 2
    (run_dir,) = data.glob("run_id=*")
    assert run_dir.name == f"run_id={summary['run_id']}"
    assert list(run_dir.glob("*.parquet"))
    assert not list(run_dir.glob("bucket=*"))
    pd.testing.assert_frame_equal(
        golden[sorted(golden.columns)],
        _read_committed(spark, out)[sorted(golden.columns)],
    )


def test_vacuum_trash_protocol(spark, transcripts, tmp_path):
    """Crash-recovery of the rename-then-delete protocol: an AGED .trash
    subdir (a vacuum that crashed between rename and delete) is cleared
    by the next vacuum's phase 0; a YOUNG one (a possibly-concurrent
    vacuum) is left alone; and renamed-but-undeleted dirs never
    resurrect manifest entries."""
    import os
    import pathlib

    from docling_api_spark.plans.pipeline import (
        _TRASH_MIN_AGE,
        compact,
        run_extraction,
        vacuum,
    )

    out = tmp_path / "out"
    run_extraction(spark, transcripts, str(out), n_buckets=4, limit_buckets=2)
    run_extraction(spark, transcripts, str(out), n_buckets=4)

    trash = pathlib.Path(out) / ".trash"
    aged = trash / "vac-999-1"
    (aged / "run_id=run-dead").mkdir(parents=True)
    (aged / "run_id=run-dead" / "f.parquet").write_text("x")
    old = aged.stat().st_mtime - (_TRASH_MIN_AGE + 10)
    os.utime(aged, (old, old))
    young = trash / "vac-999-2"
    (young / "run_id=run-live").mkdir(parents=True)

    compact(spark, str(out))
    removed = vacuum(str(out))
    assert len(removed) == 2  # the two retired pre-compaction runs
    assert not aged.exists()          # aged leftover cleared (phase 0)
    assert young.exists()             # young subdir spared (age gate)
    # this vacuum's own subdir fully deleted after phase 3
    others = [t.name for t in trash.iterdir() if t.name != "vac-999-2"]
    assert others == []
    # manifest fully settled despite the leftover trash
    from docling_api_spark.plans.checkpoint import Manifest

    state = Manifest(str(out)).snapshot()
    assert state["retired"] == []


def test_commit_version_retention_and_legacy_cleanup(tmp_path):
    """The versioned pointer: a write that dies leaves INDEX.json on the
    last committed version and the rerun rewrites the same version
    number; the committed version and the one before it are kept; the
    first commit into a dir holding flat, unversioned copies of the
    version's names removes them and nothing else."""
    import json

    import pytest

    from docling_api_spark.plans.checkpoint import (
        commit_version,
        current_version,
        version_dir,
    )

    root = tmp_path / "out"
    (root / "annotated").mkdir(parents=True)
    (root / "annotated" / "part-0.parquet").write_text("flat")
    (root / "funnel.json").write_text("{}")
    (root / "notes.txt").write_text("not a name any version holds")

    def write(n):
        def fill(vdir):
            (vdir / "annotated").mkdir()
            (vdir / "funnel.json").write_text(json.dumps({"n": n}))
            return {"n": n}
        return fill

    def crash(vdir):
        (vdir / "annotated").mkdir()
        raise RuntimeError("write died")

    assert commit_version(root, write(0)) == {"version": 0, "n": 0}
    assert sorted(p.name for p in root.iterdir()) == [
        "INDEX.json", "notes.txt", "v0000"]
    with pytest.raises(RuntimeError, match="write died"):
        commit_version(root, crash)
    assert current_version(root) == {"version": 0, "n": 0}
    assert commit_version(root, write(1)) == {"version": 1, "n": 1}
    assert sorted(p.name for p in version_dir(root, 1).iterdir()) == [
        "annotated", "funnel.json"]
    for n in (2, 3):
        commit_version(root, write(n))
    assert current_version(root) == {"version": 3, "n": 3}
    assert (root / "INDEX.json").read_text() == '{"n": 3, "version": 3}'
    assert sorted(p.name for p in root.iterdir()) == [
        "INDEX.json", "notes.txt", "v0002", "v0003"]
    assert json.loads((version_dir(root, 2) / "funnel.json").read_text()) \
        == {"n": 2}


def test_dedup_index_update_and_idempotency(spark, tmp_path):
    """plans/dedup_index.py lifecycle: first batch builds v0000; a second
    batch reports its duplicates vs the committed index (exact + near)
    and commits only unseen contents as v0001; re-running the same batch
    is a committed no-op (pointer untouched); the on-disk index equals
    the operator-level extension."""
    from pyspark.sql import functions as F

    from docling_api_spark.plans.checkpoint import current_version
    from docling_api_spark.plans.dedup_index import load_index, update_index

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    batch1 = d.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    # batch 2 overlaps batch 1: fresh docs + a byte-identical re-crawl
    recrawl = (
        batch1.filter(F.col("doc_id") == 1)
        .select(F.lit(9001).cast("long").alias("doc_id"), "text")
    )
    batch2 = (
        d.filter((F.col("doc_id") % 3 == 0) & (F.col("doc_id") < 240))
        .select("doc_id", "text")
        .unionByName(recrawl)
    )
    idx_dir = str(tmp_path / "sigidx")
    matches_dir = str(tmp_path / "matches")

    s1 = update_index(spark, batch1, idx_dir, threshold=0.25)
    assert s1["index_version"] == 0 and s1["committed"]
    assert s1["matches"] == {"exact": 0, "minhash_est": 0, "docs_matched": 0}
    assert s1["index_rows"] == s1["n_input_distinct"] == s1["n_added"]

    s2 = update_index(spark, batch2, idx_dir, threshold=0.25,
                      matches_out=matches_dir)
    assert s2["index_version"] == 1 and s2["committed"]
    assert s2["matches"]["exact"] >= 1          # the re-crawled copy
    assert s2["matches"]["minhash_est"] >= 1    # corpus near-dups straddle
    assert 0 < s2["n_added"] <= s2["n_input_distinct"]
    # the written match report mirrors the summary counts
    mm = spark.read.parquet(matches_dir)
    assert mm.count() == s2["matches"]["exact"] + s2["matches"]["minhash_est"]
    assert mm.filter(F.col("method") == "exact").count() == s2["matches"]["exact"]

    # idempotent re-run: same batch, nothing committed, pointer untouched.
    # (The match REPORT legitimately grows — batch2's own near-dup pairs
    # are now cross-index matches — but never with self-pairs.)
    before = current_version(idx_dir)
    s3 = update_index(spark, batch2, idx_dir, threshold=0.25,
                      matches_out=str(tmp_path / "matches2"))
    assert s3["committed"] is False and s3["n_added"] == 0
    assert s3["index_version"] == 1
    assert current_version(idx_dir) == before
    m2 = spark.read.parquet(str(tmp_path / "matches2"))
    assert m2.filter(F.col("new_id") == F.col("match_id")).count() == 0
    assert m2.count() >= mm.count()  # prior cross matches all still found

    # on-disk index == operator-level signature union (exact row set)
    from docling_api_spark.operators.dedup import (
        extend_signature_index,
        signature_index,
    )

    current, state = load_index(spark, idx_dir)
    assert state["version"] == 1 and current.count() == state["n_rows"]
    expected = extend_signature_index(
        signature_index(batch1), signature_index(batch2)
    )
    got_rows = {tuple(r) for r in current.select(
        "doc_id", "content_sha", F.col("minhash").cast("string")).collect()}
    exp_rows = {tuple(r) for r in expected.select(
        "doc_id", "content_sha", F.col("minhash").cast("string")).collect()}
    assert got_rows == exp_rows


def test_dedup_index_drift_and_first_run_report(spark, tmp_path):
    """Two review-found contracts: (1) a SAME-id re-crawl with DRIFTED
    near-dup content is reported as a minhash_est self-pair (only exact
    self-pairs — idempotent re-runs — are filtered); (2) the FIRST batch
    writes an empty, schema-stable match report when asked."""
    from pyspark.sql import functions as F

    from docling_api_spark.plans.dedup_index import update_index

    base = " ".join(f"tok{i}" for i in range(40))
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different words here")],
        "doc_id long, text string",
    )
    idx_dir = str(tmp_path / "idx")
    s1 = update_index(spark, b1, idx_dir, threshold=0.3,
                      matches_out=str(tmp_path / "m0"))
    assert s1["committed"] and s1["matches_out"]
    m0 = spark.read.parquet(str(tmp_path / "m0"))
    assert m0.count() == 0
    assert set(m0.columns) == {"new_id", "match_id", "jaccard_est", "method"}

    # doc 1 re-crawled with drifted (near-dup) content under the SAME id
    drifted = base.replace("tok0 ", "tok0 extra ")
    b2 = spark.createDataFrame([(1, drifted)], "doc_id long, text string")
    s2 = update_index(spark, b2, idx_dir, threshold=0.3,
                      matches_out=str(tmp_path / "m1"))
    m1 = spark.read.parquet(str(tmp_path / "m1")).collect()
    self_pairs = [r for r in m1 if r["new_id"] == r["match_id"] == 1]
    assert len(self_pairs) == 1 and self_pairs[0]["method"] == "minhash_est"
    # the drifted content is NOT committed (id already present) — the
    # report is the signal; re-ingest under a new id commits it
    assert s2["n_added"] == 0 and s2["committed"] is False
    assert s2["n_ids_reused"] == 1


def test_dedup_index_refuses_one_id_with_two_texts(spark, tmp_path):
    """One id names one text: a batch that gives id 1 two different
    texts is refused before anything is committed (its minhash would
    merge both texts). A byte-identical repeat stays legal
    (test_dedup_index_repeated_rows_and_null_text)."""
    import pytest

    from docling_api_spark.plans.checkpoint import current_version
    from docling_api_spark.plans.dedup_index import update_index

    t = " ".join(f"alpha{i}" for i in range(30))
    u = " ".join(f"beta{i}" for i in range(30))
    idx_dir = str(tmp_path / "idx")
    bad = spark.createDataFrame([(1, t), (1, u)], "doc_id long, text string")
    with pytest.raises(ValueError, match="one id must name one text"):
        update_index(spark, bad, idx_dir)
    assert current_version(idx_dir) is None


def test_dedup_index_repeated_rows_and_null_text(spark, tmp_path):
    """The index holds one row per distinct non-NULL content: a repeated
    (doc_id, text) input row is one index row, a NULL-text doc is not
    indexed, and a later byte-identical doc reports exactly one exact
    match (not one per repeated input row)."""
    from docling_api_spark.plans.dedup_index import load_index, update_index

    t = " ".join(f"alpha{i}" for i in range(30))
    u = " ".join(f"beta{i}" for i in range(30))
    b1 = spark.createDataFrame(
        [(1, t), (1, t), (2, u), (3, None)], "doc_id long, text string")
    idx_dir = str(tmp_path / "idx")
    s1 = update_index(spark, b1, idx_dir, threshold=0.5)
    assert s1["n_input"] == 4
    assert s1["n_input_distinct"] == s1["index_rows"] == 2
    index, _ = load_index(spark, idx_dir)
    assert sorted(r["doc_id"] for r in index.collect()) == [1, 2]

    b2 = spark.createDataFrame([(10, t)], "doc_id long, text string")
    s2 = update_index(spark, b2, idx_dir, threshold=0.5)
    assert s2["matches"]["exact"] == 1
    assert s2["matches"]["docs_matched"] == 1
