"""Write-then-commit for every CLI writer (resumability, north rule).

``publish`` is the package's one atomic swap (tmp file + ``os.replace``):
``manifest.json``, lineage files, ``INDEX.json`` and gate-stream's
per-batch log are written through it. ``cli dedup-index`` and ``cli
corpus`` output versioned dirs: ``commit_version`` writes
``root/v<NNNN>/`` whole, then publishes ``root/INDEX.json``
(``{"version": N, ...}``) naming it. A crash before the swap orphans the
new dir like an uncommitted Iceberg data file; the rerun rewrites it.

``cli run``'s output is, in production framing, an Iceberg table: each
run's appended data files + a snapshot commit; resume = diff committed
snapshots. Iceberg jars are not in this sandbox (SURVEY.md §7.3.3), so
snapshots are emulated deterministically:

- ``manifest.json`` lists committed (run_id, bucket) pairs. A run's data
  files sit directly in ``data/run_id=R/``, one per write task, with
  ``bucket`` a column in them; older outputs also hold runs in
  ``data/run_id=R/bucket=B/`` dirs, which ``committed_view`` still reads.
  A killed run leaves the previous manifest intact, so its partial data
  files belong to a (run_id, bucket) pair that was never committed and
  are invisible to ``committed_view`` — the same way Iceberg orphans
  uncommitted data files. The resume then reprocesses those buckets
  under a new run_id, with no double counting.
- This module owns that layout (``Manifest.run_dir``/``run_dirs``, and
  ``write_run`` for ``run_extraction`` and ``compact``). A run goes write
  -> read-back of its own dir -> commit -> lineage, so lineage lands only
  for runs whose commit did. Lineage is one parquet file per run,
  ``lineage/part-<run_id>.parquet``, written with pyarrow (no Spark job)
  by ``write_lineage``.
- Idempotent re-commit: committing an already-committed bucket is a
  no-op (J3 anti-join semantics; reference stripe_service.py:214-231).

Readers of the output MUST go through ``committed_view`` which filters
to manifest-committed buckets — the Iceberg-snapshot-isolation analog.
"""

from __future__ import annotations

import contextlib
import fcntl
import json
import os
import pathlib
import shutil
import time

POINTER = "INDEX.json"


def publish(path, write) -> None:
    """Make ``path`` appear whole: ``write(tmp)`` fills a hidden tmp file
    beside it (dir readers skip hidden names), then it is swapped in."""
    path = pathlib.Path(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    tmp = path.with_name(f".{path.name}.tmp")
    write(tmp)
    os.replace(tmp, path)


def current_version(root) -> dict | None:
    """``root``'s committed pointer state, None before its first commit."""
    pointer = pathlib.Path(root) / POINTER
    return json.loads(pointer.read_text()) if pointer.exists() else None


def version_dir(root, version: int) -> pathlib.Path:
    return pathlib.Path(root) / f"v{version:04d}"


def commit_version(root, write) -> dict:
    """Commit the next version of ``root``: ``write(vdir)`` fills a fresh
    ``v<NNNN>/`` and returns the pointer's extra fields, then the pointer
    is published. Returns the new pointer state. Retention, one rule for
    every caller: the new version and the one before it stay (a reader
    that resolved the pointer before the swap still reads a whole
    version); older ``v*`` dirs are deleted. The first commit also
    deletes unversioned copies of the version's names (a flat
    ``annotated/`` written before versioning), as an overwrite would."""
    root = pathlib.Path(root)
    prior = current_version(root)
    version = 0 if prior is None else prior["version"] + 1
    vdir = version_dir(root, version)
    shutil.rmtree(vdir, ignore_errors=True)  # a crashed attempt's orphan
    vdir.mkdir(parents=True)
    state = {"version": version, **write(vdir)}
    publish(root / POINTER,
            lambda tmp: tmp.write_text(json.dumps(state, sort_keys=True)))
    stale = [d for d in root.glob("v*")
             if d.name[1:].isdigit() and int(d.name[1:]) < version - 1]
    if prior is None:
        stale += [root / p.name for p in vdir.iterdir()
                  if (root / p.name).exists()]
    for p in stale:
        (shutil.rmtree if p.is_dir() else os.remove)(p)
    return state


class Manifest:
    def __init__(self, output_dir: str):
        self.dir = pathlib.Path(output_dir)
        self.path = self.dir / "manifest.json"
        self.lock_path = self.dir / "manifest.lock"

    @contextlib.contextmanager
    def _locked(self):
        """Advisory mutation lock: every read-modify-write of
        manifest.json holds an exclusive ``flock`` on a persistent lock
        file, so a vacuum's lease pruning cannot lose-update a concurrent
        run's commit; readers stay lock-free (``publish`` is atomic).
        flock is kernel-arbitrated and released when its holder dies, so
        no staleness heuristics are needed. The production framing is an
        Iceberg catalog's atomic commit, not file locks."""
        self.dir.mkdir(parents=True, exist_ok=True)
        fd = os.open(self.lock_path, os.O_CREAT | os.O_RDWR)
        try:
            fcntl.flock(fd, fcntl.LOCK_EX)
            yield
        finally:
            fcntl.flock(fd, fcntl.LOCK_UN)
            os.close(fd)

    def _read(self) -> dict:
        if not self.path.exists():
            return {"runs": [], "buckets": [], "run_counter": 0,
                    "inflight": {}, "retired": []}
        state = json.loads(self.path.read_text())
        state.setdefault("retired", [])
        if "run_counter" not in state:
            # back-compat migration: the pre-counter era burned ids that
            # len(runs) does NOT count (compaction collapses runs to one
            # entry; crashed runs never appear) — seeding with the list
            # length would REUSE an id whose dir still exists and
            # resurrect its stale rows into the re-committed partitions.
            # Seed from the max numeric suffix across every id we can
            # still see: runs, retired entries, and on-disk data dirs.
            def _suffix(rid: str) -> int:
                try:
                    return int(rid.rsplit("-", 1)[1])
                except (IndexError, ValueError):
                    return -1

            known = [r["run_id"] for r in state["runs"]]
            known += list(state["retired"])
            known += list(self.run_dirs())
            state["run_counter"] = 1 + max(
                (_suffix(r) for r in known), default=-1
            )
        inflight = state.setdefault("inflight", {})
        if isinstance(inflight, list):  # pre-timestamp lease format:
            # stamp with the manifest file's mtime — a STABLE historical
            # instant (>= the reservation time), so the migrated lease
            # both gets a real grace window and actually ages out.
            # Stamping NOW would restart the window on every read (a
            # vacuum-only workload would never reclaim); stamping 0.0
            # would make every legacy lease instantly reclaimable.
            stamp = self.path.stat().st_mtime
            state["inflight"] = {r: stamp for r in inflight}
        return state

    def _write(self, state: dict) -> None:
        publish(self.path, lambda tmp: tmp.write_text(
            json.dumps(state, indent=1, sort_keys=True)))

    def run_dir(self, run_id: str) -> pathlib.Path:
        return self.dir / "data" / f"run_id={run_id}"

    def lineage_dir(self) -> pathlib.Path:
        return self.dir / "lineage"

    def run_dirs(self) -> dict[str, pathlib.Path]:
        """Every run data dir on disk, keyed by run id, in name order."""
        return {d.name.split("=", 1)[1]: d
                for d in sorted((self.dir / "data").glob("run_id=*"))}

    def _require_data(self, run_id: str) -> None:
        if not self.run_dir(run_id).exists():
            raise RuntimeError(f"commit refused: data dir for {run_id} is "
                               "missing (reclaimed by vacuum?) — re-run the job")

    def committed_buckets(self) -> set[int]:
        return set(self._read()["buckets"])

    def next_run_id(self) -> str:
        """RESERVE the next run id: the incremented counter is persisted
        atomically BEFORE any data is written, so ids are never reused —
        a run that crashes after writing parquet but before committing
        burns its id and its directory stays an invisible orphan until
        vacuum (recycling the id would resurrect the orphan's rows into
        the re-committed (run_id, bucket) partitions). The id is also
        recorded as in-flight: vacuum() will not delete a fresh
        uncommitted dir out from under a live run."""
        with self._locked():
            state = self._read()
            run_id = f"run-{state['run_counter']:04d}"
            state["run_counter"] += 1
            # lease value = reservation time (ops-plane staleness signal
            # for vacuum; nothing in the data plane reads it)
            state["inflight"][run_id] = time.time()
            self._write(state)
        return run_id

    def commit(self, run_id: str, snapshot_id: str, buckets: list[int],
               data_schema_json: str | None = None,
               expect_data: bool = False, n_buckets: int | None = None) -> None:
        """``expect_data=True`` asserts the run's data dir still exists at
        commit time (callers that wrote >0 rows set it): a dir reclaimed
        by a force-vacuum between write and commit must fail the commit
        loudly, never mark buckets committed with their data gone.
        ``n_buckets`` is recorded on first commit and must match on every
        later commit — mixing two bucketings in one output dir silently
        skips re-hashed rows on resume."""
        with self._locked():
            state = self._read()
            if expect_data:
                self._require_data(run_id)
            if n_buckets is not None:
                recorded = state.get("n_buckets")
                if recorded is not None and recorded != n_buckets:
                    raise ValueError(
                        f"n_buckets mismatch: manifest has {recorded}, "
                        f"commit got {n_buckets}"
                    )
                state["n_buckets"] = n_buckets
            done = set(state["buckets"])  # hoisted: the comprehension
            # would otherwise rebuild the set per bucket (O(B²) while
            # holding the exclusive manifest lock)
            new = [b for b in buckets if b not in done]
            state["runs"].append(
                {"run_id": run_id, "snapshot_id": snapshot_id, "buckets": new}
            )
            state["buckets"] = sorted(set(state["buckets"]) | set(new))
            if data_schema_json:
                # recorded so committed_view can read a data dir that holds
                # no parquet files yet (zero-row runs) without inference
                state["data_schema"] = data_schema_json
            state["inflight"].pop(run_id, None)
            self._write(state)

    def data_schema_json(self) -> str | None:
        return self._read().get("data_schema")

    def n_buckets(self) -> int | None:
        return self._read().get("n_buckets")

    def replace_runs(self, run_id: str, snapshot_id: str,
                     expect_data: bool = False) -> None:
        """Compaction commit: the single ``run_id`` now carries EVERY
        committed bucket; prior runs' data dirs become orphans (invisible
        to committed_view) and are recorded as RETIRED — vacuum may
        reclaim a retired dir immediately (its rows live on in the
        compacted run), while unknown dirs get the mtime grace window.
        The committed-bucket set is unchanged — resume is unaffected."""
        with self._locked():
            state = self._read()
            if expect_data:
                self._require_data(run_id)
            retired = {r["run_id"] for r in state["runs"]} - {run_id}
            state["retired"] = sorted(set(state["retired"]) | retired)
            state["runs"] = [
                {"run_id": run_id, "snapshot_id": snapshot_id,
                 "buckets": list(state["buckets"])}
            ]
            state["inflight"].pop(run_id, None)
            self._write(state)

    def snapshot(self) -> dict:
        """One consistent, migrated view of the whole manifest state —
        use this when multiple views (runs/leases/retired) must agree
        (e.g. vacuum), instead of N accessor calls that each re-read."""
        return self._read()

    @contextlib.contextmanager
    def mutate(self):
        """Read-modify-write of the whole manifest state under the
        mutation lock: yields the state dict; the (possibly modified)
        dict is atomically written back on normal exit. Used by vacuum so
        its delete-then-prune is one atomic step against concurrent
        commits — a commit landing after the lock is taken sees either
        the pre-vacuum or post-vacuum state, never a half-pruned one."""
        with self._locked():
            state = self._read()
            yield state
            self._write(state)

    def runs(self) -> list[dict]:
        return self._read()["runs"]


def write_run(spark, output_dir: str, df, run_id: str):
    """Write ``df`` as run ``run_id`` and return ``(schema, written)``: the
    write schema (recorded in the manifest at commit) and a reader over
    this run's own data dir only. Each write task puts its file straight
    into ``data/run_id=<id>/`` — ``bucket`` stays a data column, so there
    is no exchange, no per-bucket dir, and the commit's ``_temporary``
    staging stays inside the run's own dir. The read-back never lists
    another run's dir, so its cost does not grow with the output's run
    history; a zero-row run reads back as an empty frame."""
    from pyspark.sql import functions as F

    data = df.drop("run_id")
    schema = data.withColumn("run_id", F.lit(run_id)).schema
    run_dir = str(Manifest(output_dir).run_dir(run_id))
    data.write.mode("append").parquet(run_dir)
    return schema, (spark.read.schema(schema)
                    .option("basePath", f"{output_dir}/data").parquet(run_dir))


def write_lineage(output_dir: str, run_id: str, rows) -> None:
    """Publish run ``run_id``'s lineage rows (``LINEAGE_SCHEMA`` order) as
    ``lineage/part-<run_id>.parquet``; a rewrite replaces the file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    from docling_api_spark.schema import LINEAGE_SCHEMA

    table = pa.Table.from_pylist([r.asDict() for r in rows],
                                 schema=to_arrow_schema(LINEAGE_SCHEMA))
    publish(Manifest(output_dir).lineage_dir() / f"part-{run_id}.parquet",
            lambda tmp: pq.write_table(table, tmp))


def committed_view(spark, output_dir: str):
    """Snapshot-isolated read: only manifest-committed (run_id, bucket)
    pairs are visible. Only the committed runs' own dirs are listed, so
    orphaned and retired runs' dirs are never even listed and the cost
    does not grow with the output's run history; the bucket filter drops
    any bucket a run wrote but did not commit. Runs written before runs
    went flat keep ``bucket=B/`` dirs; Spark discovers one partition
    layout per read, so those runs and the flat ones are read apart and
    unioned by name, columns ordered as the bucket-dir layout reads."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    m = Manifest(output_dir)
    runs = [r for r in m.runs() if r["buckets"]]
    schema_json = m.data_schema_json()
    # the recorded write schema reads a file-less (zero-row) dir as empty
    # instead of failing inference; pre-schema manifests infer as before
    schema = T.StructType.fromJson(json.loads(schema_json)) if schema_json else None
    # a zero-row run written in the bucket-dir layout has no dir
    run_dirs = [d for d in (m.run_dir(r["run_id"]) for r in runs) if d.exists()]
    if not run_dirs:
        # no committed rows: return an empty frame WITHOUT touching
        # the data path — on a fresh output dir the parquet reader would
        # raise PATH_NOT_FOUND before reaching any limit(0)
        if schema:
            return spark.createDataFrame([], schema)
        data = pathlib.Path(output_dir) / "data"
        if data.exists():
            return spark.read.parquet(f"{output_dir}/data").limit(0)
        return spark.createDataFrame([], T.StructType([]))
    reader = (spark.read.schema(schema) if schema else spark.read).option(
        "basePath", f"{output_dir}/data")
    by_layout: dict[bool, list[str]] = {}
    for d in run_dirs:
        by_layout.setdefault(any(d.glob("bucket=*")), []).append(str(d))
    df = reduce(DataFrame.unionByName,
                (reader.parquet(*dirs) for dirs in by_layout.values()))
    cond = reduce(
        lambda a, b: a | b,
        [
            (F.col("run_id") == r["run_id"]) & F.col("bucket").isin(r["buckets"])
            for r in runs
        ],
    )
    keys = ("run_id", "bucket")
    return df.filter(cond).select(*[c for c in df.columns if c not in keys], *keys)
