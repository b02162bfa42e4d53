"""Idempotent exactly-once sink + lineage + metrics.

Replaces the reference's step-file overwrite (storage.py:211-241) with an
Iceberg-shaped commit protocol on plain parquet:

* each micro-batch writes to ``<out>/batch_id=<N>/`` (deterministic path —
  a replayed batch after crash-recovery overwrites the same directory);
* a manifest JSON ``<out>/_manifest/<N>.json`` is written only after the data
  commit succeeds; readers (``read_committed``) consider only manifested
  batch directories, so a crash between data write and manifest write is
  invisible — together with the checkpointed source offsets this yields
  exactly-once output;
* every row carries lineage columns (batch_id, part_id, ingest source file);
* per-batch metrics rows (counts, min/max event time) append to the manifest.

On a real cluster the same ``foreachBatch`` body becomes an Iceberg
``overwritePartitions``/MERGE keyed by batch_id — the interface is kept
Iceberg-shaped on purpose (SURVEY.md §7.5).
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


def _with_lineage(df: DataFrame, batch_id: int) -> DataFrame:
    return (
        df.withColumn("_batch_id", F.lit(batch_id))
        .withColumn("_part_id", F.spark_partition_id())
        .withColumn("_committed_at", F.lit(int(time.time() * 1000)))
    )


class _HadoopFS:
    """Thin py4j wrapper over org.apache.hadoop.fs.FileSystem — every
    filesystem mutation in the commit protocol goes through this, so the
    sink works unchanged against HDFS/S3A/GCS, not just the driver's local
    disk (driver-local os/shutil would silently corrupt on a real cluster)."""

    def __init__(self, spark: SparkSession, base: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self.fs = self._Path(base).getFileSystem(spark._jsc.hadoopConfiguration())

    def exists(self, p: str) -> bool:
        return self.fs.exists(self._Path(p))

    def delete(self, p: str, recursive: bool = True) -> None:
        self.fs.delete(self._Path(p), recursive)

    def mkdirs(self, p: str) -> None:
        self.fs.mkdirs(self._Path(p))

    def list_names(self, d: str) -> list[str]:
        if not self.exists(d):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(self._Path(d))]

    def read_text(self, p: str) -> str:
        """Small-file read through the Hadoop FS API (manifests are tiny);
        commons-io ships with Spark's jars."""
        stream = self.fs.open(self._Path(p))
        try:
            return self._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
        finally:
            stream.close()

    def write_atomic(self, p: str, data: str) -> None:
        """create(tmp) + rename — the classic object-store-safe commit.
        Hadoop FileSystem.rename/delete report failure by RETURNING false
        (not throwing); a silent false here would mark the batch committed in
        the checkpoint with no manifest — permanently dropping its rows from
        read_committed. Raise instead so Spark fails and replays the batch."""
        tmp = p + ".tmp"
        out = self.fs.create(self._Path(tmp), True)
        try:
            out.write(bytearray(data.encode("utf-8")))
        finally:
            out.close()
        if self.exists(p) and not self.fs.delete(self._Path(p), False):
            raise OSError(f"manifest commit: delete of stale {p} returned false")
        if not self.fs.rename(self._Path(tmp), self._Path(p)):
            raise OSError(f"manifest commit: rename {tmp} -> {p} returned false")


class ExactlyOnceParquetSink:
    """foreachBatch target. Call ``sink.foreach_batch`` from writeStream.
    All directory mutations go through the Hadoop FS API (``_HadoopFS``), so
    the protocol is object-store-ready; per-batch row counts come from the
    Observation API on the written plan (no second job, no footer re-read)."""

    def __init__(self, out_dir: str, partition_cols: tuple[str, ...] = ()):
        self.out_dir = out_dir
        self.partition_cols = partition_cols
        self._spark: SparkSession | None = None

    def _fs(self, spark: SparkSession | None = None) -> _HadoopFS:
        s = spark or self._spark or SparkSession.getActiveSession()
        if s is None:
            raise RuntimeError("no active SparkSession for sink filesystem ops")
        self._spark = s
        return _HadoopFS(s, self.out_dir)

    def _batch_path(self, batch_id: int) -> str:
        return f"{self.out_dir}/batch_id={batch_id}"

    def _manifest_path(self, batch_id: int) -> str:
        return f"{self.out_dir}/_manifest/{batch_id}.json"

    def foreach_batch(self, df: DataFrame, batch_id: int) -> None:
        self._spark = df.sparkSession
        fs = self._fs()
        path = self._batch_path(batch_id)
        # idempotence: a replayed batch_id must clobber its own directory
        # ENTIRELY. mode("overwrite") alone is not enough: under
        # spark.sql.sources.partitionOverwriteMode=dynamic with partition_cols
        # set, a retry only overwrites partitions present in the retry's data,
        # leaving the failed attempt's stale partitions inside a directory we
        # then manifest as committed. Explicit FS delete closes that hole.
        if fs.exists(path):
            fs.delete(path, recursive=True)
        obs = Observation()
        out = _with_lineage(df, batch_id).observe(
            obs, F.count(F.lit(1)).alias("rows")
        )
        writer = out.write.mode("overwrite")
        if self.partition_cols:
            writer = writer.partitionBy(*self.partition_cols)
        writer.parquet(path)
        manifest = {
            "batch_id": batch_id,
            "rows": obs.get["rows"],
            "committed_at_ms": int(time.time() * 1000),
        }
        if self.partition_cols:
            # recorded so a later maintenance pass (cli.py --job compact)
            # constructed WITHOUT partition_cols still reproduces the
            # original directory layout (r4 ADVICE)
            manifest["partition_cols"] = list(self.partition_cols)
        fs.mkdirs(f"{self.out_dir}/_manifest")
        # manifest is the commit point: written only after the data write
        # returned, via create-tmp + rename
        fs.write_atomic(self._manifest_path(batch_id), json.dumps(manifest))

    def committed_batches(self, spark: SparkSession | None = None) -> list[int]:
        names = self._fs(spark).list_names(f"{self.out_dir}/_manifest")
        return sorted(int(n[:-5]) for n in names if n.endswith(".json"))

    def manifests(self, spark: SparkSession | None = None) -> dict[int, dict]:
        """batch_id → manifest JSON, for every committed batch (small files —
        one tiny JSON per micro-batch / compaction generation)."""
        fs = self._fs(spark)
        out: dict[int, dict] = {}
        for b in self.committed_batches(spark):
            out[b] = json.loads(fs.read_text(self._manifest_path(b)))
        return out

    def _live_paths(
        self, spark: SparkSession | None, as_of_batch: int | None
    ) -> list[str]:
        """Resolve manifests → data paths, honoring compaction generations
        (a compacted manifest carries ``covers`` + ``path``; batches covered
        by ANOTHER manifest are skipped — the mid-crash window between the
        anchor-manifest swap and the covered-manifest deletes therefore
        reads exactly once)."""
        ms = self.manifests(spark)
        if as_of_batch is not None:
            ms = {b: m for b, m in ms.items() if b <= as_of_batch}
            for b, m in ms.items():
                horizon = max(m.get("covers", [b]))
                if horizon > as_of_batch:
                    raise ValueError(
                        f"snapshot as_of_batch={as_of_batch} expired: batch "
                        f"{b} was compacted together with batches up to "
                        f"{horizon} (Iceberg-style snapshot expiry)"
                    )
        covered: set[int] = set()
        for b, m in ms.items():
            covered.update(c for c in m.get("covers", []) if c != b)
        return [
            m.get("path") or self._batch_path(b)
            for b, m in sorted(ms.items())
            if b not in covered
        ]

    def read_committed(self, spark, as_of_batch: int | None = None) -> DataFrame:
        """Committed rows only; ``as_of_batch`` time-travels to the snapshot
        after that micro-batch committed (manifest listing is the snapshot —
        batch directories are immutable once manifested)."""
        fs = self._fs(spark)
        paths = self._live_paths(spark, as_of_batch)
        # a MANIFESTED batch with a missing data directory is data loss, not
        # something to silently skip — the manifest is the commit point
        missing = [p for p in paths if not fs.exists(p)]
        if missing:
            raise FileNotFoundError(
                f"committed batch data missing (manifest present): {missing}"
            )
        if not paths:
            raise FileNotFoundError(f"no committed batches under {self.out_dir}")
        return spark.read.parquet(*paths)

    def compact(
        self,
        spark: SparkSession | None = None,
        upto_batch: int | None = None,
        target_partitions: int | None = None,
    ) -> dict:
        """Rewrite every committed batch ≤ ``upto_batch`` (default: all) into
        ONE data directory — the many-small-files answer for a long-running
        micro-batched stream (Iceberg rewrite_data_files analogue). Row
        values, including the per-row ``_batch_id``/``_part_id`` lineage,
        are preserved exactly; only the file layout changes.

        Crash-safe ordering: (0) finish any interrupted predecessor's
        cleanup (steps 3-4 below, replayed from the committed generation
        manifests — this runs FIRST so a re-run after a crash never reads
        and overwrites the same generation directory); (1) write the
        compacted directory; (2) swap the LOWEST covered batch's manifest to
        a generation manifest carrying ``covers`` (the atomic commit point —
        readers skip covered batches from that instant); (3) delete covered
        manifests; (4) delete old data directories. A crash between any
        steps leaves reads exact; a re-run of compact() completes the
        cleanup.

        Concurrency caveat (same as Iceberg's rewrite_data_files + expire-
        snapshots): steps 3-4 delete files a reader that listed manifests
        BEFORE the swap may still reference — run compact as a quiesced
        maintenance pass (cli.py --job compact), not concurrently with
        readers holding pre-compaction DataFrames."""
        s = spark or self._spark or SparkSession.getActiveSession()
        fs = self._fs(s)
        # step 0: replay an interrupted predecessor's steps 3-4 — for every
        # committed generation manifest, covered manifests and their default
        # batch directories are garbage (the generation is the committed
        # single copy of those rows)
        ms = self.manifests(s)
        for b, m in list(ms.items()):
            gen_path = m.get("path")
            for c in m.get("covers", []):
                if c == b:
                    continue
                if c in ms and ms[c].get("path") != gen_path:
                    stale = ms[c].get("path") or self._batch_path(c)
                    fs.delete(self._manifest_path(c), recursive=False)
                    if stale != gen_path and fs.exists(stale):
                        fs.delete(stale, recursive=True)
                    ms.pop(c)
                covered_default = self._batch_path(c)
                if covered_default != gen_path and fs.exists(covered_default):
                    if c not in ms:
                        fs.delete(covered_default, recursive=True)
        # generation directories no manifest references are leftovers of a
        # superseded generation or of a crash between the data write and the
        # manifest swap — both invisible to readers, both safe to drop
        live_gen = {m.get("path") for m in ms.values() if m.get("path")}
        for name in fs.list_names(f"{self.out_dir}/_compacted"):
            p = f"{self.out_dir}/_compacted/{name}"
            if p not in live_gen:
                fs.delete(p, recursive=True)
        ids = sorted(b for b in ms if upto_batch is None or b <= upto_batch)
        if len(ids) < 2:
            return {"compacted": 0}
        lo, hi = ids[0], ids[-1]
        dest = f"{self.out_dir}/_compacted/{lo}-{hi}"
        df = s.read.parquet(*self._live_paths(s, None if upto_batch is None else hi))
        if target_partitions:
            df = df.repartition(target_partitions)
        obs = Observation()
        writer = df.observe(obs, F.count(F.lit(1)).alias("rows")).write.mode(
            "overwrite"
        )
        # layout source of truth: the batch manifests (written by the sink
        # that produced the data) — a compact invoked on a sink constructed
        # with default partition_cols=() must not silently flatten a
        # partitioned layout (r4 ADVICE)
        part_cols = tuple(self.partition_cols)
        if not part_cols:
            recorded = {
                tuple(ms[b].get("partition_cols", [])) for b in ids
            } - {()}
            if len(recorded) > 1:
                raise ValueError(
                    f"conflicting partition_cols across manifests: {recorded}"
                )
            part_cols = next(iter(recorded)) if recorded else ()
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(dest)
        covers = sorted(set(ids) | {c for b in ids for c in ms[b].get("covers", [])})
        manifest = {
            "batch_id": lo,
            "rows": obs.get["rows"],
            "covers": covers,
            "path": dest,
            "committed_at_ms": int(time.time() * 1000),
        }
        if part_cols:
            manifest["partition_cols"] = list(part_cols)
        old_paths = [ms[b].get("path") or self._batch_path(b) for b in ids]
        fs.write_atomic(self._manifest_path(lo), json.dumps(manifest))  # commit
        for b in ids[1:]:
            fs.delete(self._manifest_path(b), recursive=False)
        for p in old_paths:
            if p != dest and fs.exists(p):
                fs.delete(p, recursive=True)
        return manifest


class MetricsListener:
    """StreamingQueryListener-shaped progress collector: appends each
    micro-batch's full progress JSON (Spark's ``StreamingQueryProgress``:
    rows/sec, ``durationMs``, watermark, ``stateOperators``, ``sources``,
    ``sink``, ``observedMetrics``) as one line to ``<path>``.
    Registered via spark.streams.addListener on the wrapped instance."""

    def __init__(self, path: str):
        self.path = path

    def make(self):  # lazily import to keep module import cheap
        from pyspark.sql.streaming import StreamingQueryListener

        path = self.path

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                with open(path, "a") as f:
                    f.write(event.progress.json + "\n")
                    f.flush()
                    os.fsync(f.fileno())

            def onQueryTerminated(self, event):
                # listener dispatch is async (a single ordered queue per
                # listener), so this line lands AFTER every progress record
                # for the query — it is the "all metrics flushed" barrier
                # consumers can poll for instead of racing query.stop()
                with open(path, "a") as f:
                    f.write(json.dumps({"terminated": str(event.id)}) + "\n")
                    f.flush()
                    os.fsync(f.fileno())

            def onQueryIdle(self, event):
                pass

        return _L()
