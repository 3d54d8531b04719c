"""Batch-granular atomic commits for streaming parquet sinks.

The reference saves atomically: write to ``<path>.tmp`` then rename(2)
into place (ext/blurrily/storage.c:371-374). Structured Streaming re-runs
a micro-batch after a sink failure, so the streaming analogue needs two
properties a bare ``mode('append')`` parquet write lacks:

* **replay idempotence** -- a retried batchId must not double-append;
* **torn-batch invisibility** -- a batch that crashed mid-write must
  leave nothing visible to readers.

:class:`BatchSink` provides both with plain parquet plus the Hadoop
FileSystem API (no table format ships in this sandbox; on a real cluster
this is an Iceberg/Delta append whose commit is already
batchId-idempotent via ``txnAppId``/``txnVersion``):

* each micro-batch writes its rows to its own subdirectory
  ``<dir>/batch-<id>`` with ``mode('overwrite')`` -- a retry after a
  torn write simply replaces the debris;
* the batch becomes visible only when the zero-byte marker
  ``<dir>/_committed/<id>`` is created (the rename(2) moment);
* readers -- including the in-stream membership anti-joins -- see
  exactly the union of committed batch directories;
* a replayed batchId whose marker already exists is a NO-OP.

**Compaction** bounds the O(#batches) growth of that union (the streaming
face of the reference's periodic save, lib/blurrily/server.rb:24-27):
:meth:`BatchSink.compact` folds every committed batch directory into a
single base snapshot ``<dir>/base-<gen>``, published by a marker
``<dir>/_base/<gen>`` whose content records the highest folded batch id.
After compaction, :meth:`read` touches ONE base path plus only the
batches committed since -- file listing, plan size, and the membership
anti-joins stop growing with stream lifetime. The protocol stays
crash-atomic at every step: the base data is written before its marker
(tmp + rename, the same atomic-publish move as batch commits), readers
ignore a base without a marker, folded-batch cleanup is pure GC (reads
already exclude ids <= the folded watermark), and a compaction retry
overwrites the same next-generation path. Superseded DATA files outlive
the cut-over by a snapshot-retention window (``retain_data`` generations,
default 1) so lazy readers planned pre-compaction still execute and
:meth:`BatchSink.read_snapshot` can time-travel to a retained
generation -- the Iceberg ``expireSnapshots`` model. Run ``compact()`` from a
maintenance job or between triggers -- never concurrently with a writer
whose batch group is only partially committed (a replay that must
``read(exclude=folded_id)`` fails loudly rather than double-counting).

**Identity pairing** (round-3 ADVICE): commit markers key on batchId, and
batch ids restart at 0 with a fresh checkpoint -- so reusing an output
directory with a NEW checkpoint would silently drop every replayed id as
a "replay". :meth:`claim` writes the owning query's identity (its
checkpoint location) into ``<dir>/_identity`` on first use and refuses a
mismatched identity ever after: a sink directory and its checkpoint are
paired for life, and breaking the pair is a loud error, not data loss.

Multiple sinks fed by one micro-batch (e.g. the dedup stream's pairs +
signatures) stay consistent because every write is a deterministic pure
function of (batch rows, history-minus-this-batch): writers read the
history with ``read(exclude=batch_id)``, so a replay after ANY partial
commit recomputes identical outputs and overwrites/commits whichever
sinks are missing.

Every existence/listing probe goes through the Hadoop FileSystem API --
never ``os.listdir`` -- so the sink works unchanged against object
stores (``s3a://``, ``abfs://``, ...).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the session's Hadoop conf."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def publish_small_file(spark: SparkSession, hpath, payload: bytes) -> None:
    """Atomically publish a small metadata file: write to a dotted tmp
    sibling, then rename into place (readers never see a torn file).
    ``hpath`` is a Hadoop Path or a path string.

    Hadoop's ``FileSystem.rename`` reports most failures by RETURNING
    FALSE rather than throwing -- notably on the object stores this module
    targets -- so the return value is checked and a failed publish raises
    instead of silently leaving the marker absent (a caller like
    :meth:`BatchSink.compact` would otherwise GC folded data that no base
    marker vouches for)."""
    jvm = spark._jvm
    if isinstance(hpath, str):
        hpath = jvm.org.apache.hadoop.fs.Path(hpath)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.mkdirs(hpath.getParent())
    tmp = jvm.org.apache.hadoop.fs.Path(hpath.getParent(), f".tmp-{hpath.getName()}")
    out = fs.create(tmp, True)
    try:
        out.write(payload)
    finally:
        out.close()
    if fs.exists(hpath):
        fs.delete(hpath, False)
    if not fs.rename(tmp, hpath):
        raise IOError(
            f"atomic publish of {hpath.toString()!r} failed: rename returned "
            "false (the staged tmp file was left in place; nothing was "
            "published)"
        )


def read_small_file(spark: SparkSession, path: str) -> bytes | None:
    """Contents of a small metadata file, or None when absent."""
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


class SinkIdentityError(RuntimeError):
    """The sink directory is already paired with a different query
    identity (checkpoint location). Reusing an output directory with a
    fresh checkpoint restarts batch ids at 0 and would silently drop
    every batch as a replay -- refused loudly instead."""


class BatchSink:
    """One streaming sink directory with batchId-granular atomic commits."""

    def __init__(self, spark: SparkSession, directory: str):
        self.spark = spark
        self.directory = directory.rstrip("/")
        self.committed_dir = f"{self.directory}/_committed"
        self.base_marker_dir = f"{self.directory}/_base"
        self.expire_dir = f"{self.directory}/_expire"

    # -- commit protocol ---------------------------------------------------

    def batch_path(self, batch_id: int) -> str:
        return f"{self.directory}/batch-{int(batch_id)}"

    def base_path(self, gen: int) -> str:
        return f"{self.directory}/base-{int(gen)}"

    def _marker(self, batch_id: int):
        return _hadoop_fs(self.spark, f"{self.committed_dir}/{int(batch_id)}")

    def is_committed(self, batch_id: int) -> bool:
        fs, marker = self._marker(batch_id)
        if fs.exists(marker):
            return True
        # a compacted batch's marker may have been GC'd: the base watermark
        # still vouches for it (replay of a folded id must stay a no-op).
        # The watermark assumes a CONTIGUOUS commit history below it --
        # guaranteed by Structured Streaming's sequential batch ids (batch
        # N completes before N+1 starts), and by compact()'s contract of
        # never running while a batch group is partially committed.
        _, folded_through = self._base_state()
        return int(batch_id) <= folded_through

    def write(self, df: DataFrame, batch_id: int) -> None:
        """Stage the batch's rows (invisible until :meth:`commit`).

        ``overwrite`` of the per-batch directory makes a retried write
        self-cleaning: debris from a torn earlier attempt is replaced,
        never appended to.
        """
        df.write.mode("overwrite").parquet(self.batch_path(batch_id))

    def commit(self, batch_id: int) -> None:
        """Publish the batch: create the zero-byte marker (atomic create,
        the streaming analogue of the reference's rename(2))."""
        fs, marker = self._marker(batch_id)
        fs.mkdirs(marker.getParent())
        out = fs.create(marker, True)
        out.close()

    # -- identity pairing --------------------------------------------------

    def claim(self, identity: str) -> None:
        """Pair this sink directory with a query identity (typically the
        checkpoint location) -- first claim writes it, every later claim
        must match or :class:`SinkIdentityError` is raised. Protects
        against reusing an output directory with a fresh checkpoint,
        where restarted batch ids (0, 1, ...) would all look like replays
        of long-gone batches and be silently dropped.

        The first claim is an ATOMIC CREATE (``fs.create`` with
        ``overwrite=false``, createNewFile semantics), not a check-then-
        write: two queries racing for an unclaimed directory get exactly
        one winner, and the loser re-reads and fails the identity
        comparison instead of silently overwriting the winner's pairing.
        """
        ident_path = f"{self.directory}/_identity"
        raw = read_small_file(self.spark, ident_path)
        if raw is None:
            fs, hpath = _hadoop_fs(self.spark, ident_path)
            fs.mkdirs(hpath.getParent())
            try:
                out = fs.create(hpath, False)  # one winner; losers throw
                try:
                    out.write(identity.encode("utf-8"))
                finally:
                    out.close()
            except Exception as exc:  # noqa: BLE001 -- py4j wraps the Java error
                if "exists" not in str(exc).lower():
                    raise
            # re-read to learn who actually won the race
            raw = read_small_file(self.spark, ident_path)
        existing = raw.decode("utf-8") if raw is not None else None
        if existing != identity:
            raise SinkIdentityError(
                f"sink {self.directory!r} is paired with identity "
                f"{existing!r} but this query presents {identity!r}; a "
                "sink directory and its checkpoint are paired for life "
                "-- point the new checkpoint at a fresh directory (or "
                "delete BOTH to start over)"
            )

    def _publish_small_file(self, hpath, payload: bytes) -> None:
        publish_small_file(self.spark, hpath, payload)

    # -- read side -----------------------------------------------------------

    def committed_ids(self) -> list[int]:
        """Batch ids with a live commit marker (post-compaction, folded
        batches drop out of this listing -- their data lives in the base)."""
        fs, cdir = _hadoop_fs(self.spark, self.committed_dir)
        if not fs.exists(cdir):
            return []
        ids = []
        for status in fs.listStatus(cdir):
            name = status.getPath().getName()
            if name.isdigit():
                ids.append(int(name))
        return sorted(ids)

    def _base_state(self) -> tuple[int | None, int]:
        """(generation, folded_through) of the newest committed base
        snapshot, or (None, -1) when no compaction has happened."""
        fs, bdir = _hadoop_fs(self.spark, self.base_marker_dir)
        if not fs.exists(bdir):
            return None, -1
        best_gen = None
        for status in fs.listStatus(bdir):
            name = status.getPath().getName()
            if name.isdigit() and (best_gen is None or int(name) > best_gen):
                best_gen = int(name)
        if best_gen is None:
            return None, -1
        raw = read_small_file(self.spark, f"{self.base_marker_dir}/{best_gen}")
        folded_through = int(raw.decode("utf-8"))
        return best_gen, folded_through

    def high_watermark(self) -> int:
        """Highest batch id this sink vouches for (committed or folded);
        -1 when the sink is empty."""
        _, folded_through = self._base_state()
        ids = self.committed_ids()
        return max(ids + [folded_through])

    def read_paths(self, exclude: int | None = None) -> list[str]:
        """The exact parquet paths :meth:`read` unions: at most one base
        snapshot plus the batches committed after it. O(1 + batches since
        last compaction), never O(total batches). Exposed so tests can pin
        that per-batch plans stop growing with stream lifetime."""
        gen, folded_through = self._base_state()
        if exclude is not None and int(exclude) <= folded_through:
            raise RuntimeError(
                f"batch {exclude} was already folded into base generation "
                f"{gen} and cannot be excluded from a history read; never "
                "compact while a multi-sink batch group is partially "
                "committed (run compact() between triggers or from a "
                "quiescent maintenance job)"
            )
        paths = [] if gen is None else [self.base_path(gen)]
        paths += [
            self.batch_path(i)
            for i in self.committed_ids()
            if i > folded_through and (exclude is None or i != int(exclude))
        ]
        return paths

    def read(self, exclude: int | None = None) -> DataFrame | None:
        """Union of the base snapshot (if compacted) and all committed
        batches after it; None when nothing is committed.

        Torn (written-but-uncommitted) batch directories are invisible by
        construction -- only marker-backed paths are read. Writers pass
        ``exclude=batch_id`` so a replay of a partially-committed batch
        reads the history as it was BEFORE that batch and recomputes the
        identical outputs.
        """
        paths = self.read_paths(exclude)
        if not paths:
            return None
        return self.spark.read.parquet(*paths)

    def bootstrap_base(self, df: DataFrame, folded_through: int) -> None:
        """Publish ``df`` as this sink's FIRST base snapshot, vouching for
        batch ids ``<= folded_through`` -- the upgrade path for a sidecar
        sink paired with a data sink whose history predates sidecars
        (round-4 ADVICE: without this, membership anti-joins silently skip
        pre-existing history). Refuses a sink that already has any
        committed state: bootstrap is for EMPTY sinks only.
        """
        if self.read_paths():
            raise RuntimeError(
                f"bootstrap_base on {self.directory!r}: sink already has "
                "committed state; bootstrap is only for backfilling an "
                "empty sidecar from pre-sidecar history"
            )
        df.write.mode("overwrite").parquet(self.base_path(1))
        publish_small_file(
            self.spark,
            f"{self.base_marker_dir}/1",
            str(int(folded_through)).encode("utf-8"),
        )

    # -- compaction ----------------------------------------------------------

    def compact(self, retain_data: int = 1) -> bool:
        """Fold the current base (if any) plus every committed batch into
        the next base generation; returns True if anything was folded.

        Sequence (crash-safe at every step):

        1. snapshot the committed id list and current base;
        2. write ``base-<gen+1>`` from their union (``overwrite`` -- a
           retried compaction self-cleans its own debris);
        3. publish the ``_base/<gen+1>`` marker (tmp + rename) recording
           the highest folded id -- the atomic cut-over: readers now take
           the new base and skip every folded batch;
        4. GC: delete folded batch dirs/markers and superseded bases.
           A crash mid-GC leaves only ignorable garbage (reads filter on
           the watermark), cleaned up by the next compaction.

        Callers must ensure no writer is mid-batch-group: see
        :meth:`read_paths` on the exclude guard.
        **Snapshot retention** (``retain_data``, default 1): the marker
        cut-over is immediate -- new reads take the new base -- but the
        superseded DATA files (folded batch dirs, the previous base and
        its marker) stay on disk until they are ``retain_data``
        generations old, then are deleted by a later compaction (or an
        explicit :meth:`expire_snapshots`). A LAZY DataFrame that planned
        its scan before the cut-over therefore still executes against
        live files, and :meth:`read_snapshot` can time-travel to a
        retained generation -- the Iceberg ``expireSnapshots``
        retention-window semantics. ``retain_data=0`` deletes at
        cut-over (the pre-round-5 behavior).
        """
        gen, folded_through = self._base_state()
        batch_ids = [i for i in self.committed_ids() if i > folded_through]
        if not batch_ids:
            return False  # nothing new to fold
        paths = ([] if gen is None else [self.base_path(gen)]) + [
            self.batch_path(i) for i in batch_ids
        ]
        new_gen = (gen or 0) + 1
        new_folded = max(batch_ids)
        self.spark.read.parquet(*paths).write.mode("overwrite").parquet(
            self.base_path(new_gen)
        )
        publish_small_file(
            self.spark, f"{self.base_marker_dir}/{new_gen}", str(new_folded).encode("utf-8")
        )
        # GC deletes the only other copy of the folded rows, so require
        # POSITIVE proof the new marker is live before touching anything:
        # publish_small_file raises on a failed rename, but a buggy or
        # eventually-consistent filesystem could still leave the marker
        # unreadable -- in that case folded data must survive.
        check_gen, check_folded = self._base_state()
        if check_gen != new_gen or check_folded != new_folded:
            raise IOError(
                f"compaction marker _base/{new_gen} not visible after "
                f"publish (read back gen={check_gen}, "
                f"folded_through={check_folded}); skipping GC -- folded "
                "batch data is retained and the next compact() will retry"
            )
        # -- GC (pure cleanup; every read below already ignores these) ------
        # Commit MARKERS go now -- the listing cut-over. DATA files of the
        # superseded generation are either deleted now (retain_data=0) or
        # recorded in an expiry manifest and deleted once retain_data
        # newer generations exist, so in-flight readers keep live files.
        fs, _ = _hadoop_fs(self.spark, self.directory)
        for i in batch_ids:
            _, m = self._marker(i)
            fs.delete(m, False)
        superseded = [self.batch_path(i) for i in batch_ids]
        if gen is not None:
            superseded += [self.base_path(gen), f"{self.base_marker_dir}/{gen}"]
        if retain_data <= 0:
            for p in superseded:
                _, hp = _hadoop_fs(self.spark, p)
                fs.delete(hp, True)
            self.expire_snapshots(retain=0)
        else:
            if superseded:
                publish_small_file(
                    self.spark,
                    f"{self.expire_dir}/{new_gen}",
                    "\n".join(superseded).encode("utf-8"),
                )
            self.expire_snapshots(retain=retain_data)
        return True

    def expire_snapshots(self, retain: int = 1) -> int:
        """Delete the data files of superseded generations older than
        ``retain`` generations (the maintenance face of the retention
        window; Iceberg ``expireSnapshots``). Returns the number of
        expired manifests. ``retain=0`` drops every retained snapshot --
        callers must know no reader still holds a pre-compaction plan."""
        fs, edir = _hadoop_fs(self.spark, self.expire_dir)
        if not fs.exists(edir):
            return 0
        current_gen, _ = self._base_state()
        if current_gen is None:
            return 0
        expired = 0
        for status in fs.listStatus(edir):
            name = status.getPath().getName()
            if not name.isdigit() or current_gen - int(name) < retain:
                continue
            raw = read_small_file(self.spark, f"{self.expire_dir}/{name}")
            for p in (raw or b"").decode("utf-8").splitlines():
                if p:
                    _, hp = _hadoop_fs(self.spark, p)
                    fs.delete(hp, True)
            fs.delete(status.getPath(), False)
            expired += 1
        return expired

    def read_snapshot(self, gen: int) -> DataFrame:
        """Time-travel: the sink's contents exactly as of base generation
        ``gen``'s fold point. Available while the generation is inside
        the retention window (see :meth:`compact`); expired or
        never-compacted generations raise loudly."""
        fs, bp = _hadoop_fs(self.spark, self.base_path(int(gen)))
        raw = read_small_file(self.spark, f"{self.base_marker_dir}/{int(gen)}")
        if raw is None or not fs.exists(bp):
            raise FileNotFoundError(
                f"snapshot generation {gen} of {self.directory!r} is not "
                "available: it was never committed or its data files were "
                "expired past the retention window (retain_data on "
                "compact(), or expire_snapshots())"
            )
        return self.spark.read.parquet(self.base_path(int(gen)))


def read_sink(spark: SparkSession, directory: str) -> DataFrame | None:
    """Read a :class:`BatchSink` directory (committed batches only)."""
    return BatchSink(spark, directory).read()

