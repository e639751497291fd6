"""Per-superstep checkpoint with per-partition lineage + metrics.

The iterative operators that take a ``checkpoint`` — star CC
directly, and through :func:`~cminer_spark.plans.loop.superstep_loop`
PageRank, HITS/SALSA, SSSP, LPA, MIS, k-core and
:func:`~cminer_spark.operators.pregel.pregel` — route their
per-iteration state through this store when given one (Katz,
eigenvector and WL run on the same driver but take no checkpoint).
Responsibilities:

1. **Lineage cut** — each superstep's plan would otherwise grow
   unboundedly (SURVEY §7.3); ``save`` cuts it with ``localCheckpoint``
   (:func:`truncate_lineage`), exactly as an ephemeral round does, so
   the next round reads in-memory state that keeps the loop's
   partitioning. That cut is the one job on the round's critical path.
2. **Durable record, off the critical path** — the cut is then written
   as parquet on a background thread (an ``InheritableThread``, so its
   jobs carry the caller's job group) while the next round runs. At
   most one write is in flight per handle: ``save`` joins the previous
   round's write before starting its own and re-raises its error, so
   markers commit in order. :meth:`SuperstepCheckpoint.flush` joins the
   in-flight write and re-raises its error; ``latest()``,
   ``committed_iterations()`` and ``clear()`` call it, and so do the
   loops that save (:func:`~cminer_spark.plans.loop.superstep_loop` in
   a ``finally``, star CC after its rounds), so when an operator call
   returns or raises no writer is alive and every round it reports is
   committed. A hard kill loses at most the round still in flight,
   which a resume redoes.
3. **Exact resume** — a superstep is committed only when its metrics
   JSON exists (written strictly after the parquet ``_SUCCESS``);
   ``latest()`` returns the highest committed iteration, so a killed
   run resumes from the last complete superstep and produces results
   identical to an uninterrupted run (tested).
4. **Per-partition lineage + convergence metrics** — the write carries
   an ``Observation`` of the row count and, per partition ``p`` of the
   cut (the write's tasks), ``count_if(spark_partition_id() = p)`` and
   an order-insensitive content hash
   ``bit_xor(if(spark_partition_id() = p, xxhash64(struct(*)), 0))``,
   so the marker's ``partitions`` (one entry per write task that wrote
   rows) describe the files it commits at no extra job; the marker
   also holds the algorithm's convergence metrics (e.g. the stop
   value).

Measured on a 25,899-edge transcript graph (``durable_resume`` size:
1500 conversations, 24 turns on average) at ``local[4]``, fixed-8
PageRank, one JVM, 5 interleaved reps after a warm-up, superstep p50:
0.416 s with the former synchronous parquet write, read-back and
lineage read-back job; 0.338 s with the cut and a synchronous write;
0.185 s with the write in the background; 0.170 s for an ephemeral
round. The gain is the overlap, not the job count (18 jobs a call in
all three durable variants).

Layout::

    <dir>/iter=<i>/...parquet      # state
    <dir>/meta/iter_<i>.json       # commit marker + lineage + metrics

Path support: BOTH the parquet state (``DataFrame.write``) and the
JSON commit-marker sidecars go through Hadoop filesystem APIs — the
sidecars via :class:`_HadoopIO` (``Path.getFileSystem`` on the
session's Hadoop conf) — so the checkpoint directory may be a local
path, NFS, HDFS, or an object store (s3a://, gs://, abfss://) with
the matching connector on the classpath. Commit markers rely on
``FileContext.rename(Rename.OVERWRITE)`` as the commit point (atomic
replace; falls back to ``FileSystem.rename`` with a CHECKED boolean
return on schemes without an AbstractFileSystem binding); on stores
where rename is copy+delete the marker is still written whole-file, so
a reader never observes a partial marker.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F


class _HadoopIO:
    """Sidecar I/O through the JVM Hadoop FileSystem — works on any
    scheme the session's Hadoop conf can resolve (file://, hdfs://,
    s3a://, ...)."""

    def __init__(self, spark: SparkSession, base: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._gateway = spark._sc._gateway
        self._conf = spark._jsc.hadoopConfiguration()
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._IOUtils = jvm.org.apache.commons.io.IOUtils
        self.fs = self._Path(base).getFileSystem(self._conf)

    def mkdirs(self, path: str) -> None:
        self.fs.mkdirs(self._Path(path))

    def listdir(self, path: str) -> list[str]:
        p = self._Path(path)
        if not self.fs.exists(p):
            return []
        return [s.getPath().getName() for s in self.fs.listStatus(p)]

    def read_text(self, path: str) -> str:
        stream = self.fs.open(self._Path(path))
        try:
            return bytes(self._IOUtils.toByteArray(stream)).decode("utf-8")
        finally:
            stream.close()

    def write_text_atomic(self, path: str, text: str) -> None:
        tmp = self._Path(path + ".tmp")
        out = self.fs.create(tmp, True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()
        dst = self._Path(path)
        # Commit point. Preferred: FileContext.rename(OVERWRITE) — the
        # posix-rename analog (atomic replace, throws on failure), so
        # overwriting an existing marker (a re-run superstep) has NO
        # delete→rename window in which a crash would silently
        # un-commit an already-committed iteration. Only the FileContext
        # LOOKUP falls back (schemes without an AbstractFileSystem
        # binding, e.g. bare s3a); a rename error from a real
        # FileContext propagates — treating it as fallback-eligible
        # would let the delete-then-retry below destroy a previously
        # COMMITTED marker on quota/permission failures.
        try:
            fc = self._jvm.org.apache.hadoop.fs.FileContext.getFileContext(
                dst.toUri(), self._conf
            )
        except Exception:
            fc = None
        if fc is not None:
            opts = self._gateway.new_array(
                self._jvm.org.apache.hadoop.fs.Options.Rename, 1
            )
            opts[0] = self._jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc.rename(tmp, dst, opts)
            return
        # FileSystem.rename reports failure by RETURNING FALSE, not
        # throwing. Replace dst only when the false return is actually
        # the refuse-to-clobber case (tmp still present, dst present).
        if not self.fs.rename(tmp, dst):
            if not self.fs.exists(tmp) or not self.fs.exists(dst):
                raise IOError(f"checkpoint marker rename failed: {path}")
            self.fs.delete(dst, False)
            if not self.fs.rename(tmp, dst):
                raise IOError(f"checkpoint marker rename failed: {path}")

    def delete_recursive(self, path: str) -> None:
        p = self._Path(path)
        if self.fs.exists(p):
            self.fs.delete(p, True)


class SuperstepCheckpoint:
    def __init__(self, spark: SparkSession, directory: str):
        self.spark = spark
        self.dir = directory.rstrip("/")
        self.io = _HadoopIO(spark, self.dir)
        self.io.mkdirs(f"{self.dir}/meta")
        self._writer: InheritableThread | None = None
        self._error: BaseException | None = None

    # -- paths ---------------------------------------------------------
    def _data_path(self, i: int) -> str:
        return f"{self.dir}/iter={i}"

    def _meta_path(self, i: int) -> str:
        return f"{self.dir}/meta/iter_{i}.json"

    # -- api -----------------------------------------------------------
    def committed_iterations(self) -> list[int]:
        self.flush()
        out = []
        for name in self.io.listdir(f"{self.dir}/meta"):
            if name.startswith("iter_") and name.endswith(".json"):
                out.append(int(name[len("iter_") : -len(".json")]))
        return sorted(out)

    def latest(self) -> tuple[int, DataFrame, dict] | None:
        """Highest committed (iteration, state, metrics), or None."""
        its = self.committed_iterations()
        if not its:
            return None
        i = its[-1]
        meta = json.loads(self.io.read_text(self._meta_path(i)))
        return i, self.spark.read.parquet(self._data_path(i)), meta

    def save(
        self, i: int, df: DataFrame, metrics: dict | Callable[[], dict]
    ) -> DataFrame:
        """Cut superstep ``i``'s state as an ephemeral round does
        (:func:`truncate_lineage`) and return the cut for the next round;
        its durable write runs in the background. ``metrics`` may be a
        zero-argument callable: it is resolved after the cut, so it can
        read an ``Observation`` that rode it (e.g. the convergence
        delta). The previous round's write is joined first and its error
        re-raised, so at most one write is in flight and the markers
        commit in order."""
        cut = truncate_lineage(df)
        meta = {"iteration": i, "metrics": metrics() if callable(metrics) else metrics}
        self.flush()
        # inherits the caller's job group, so the write's jobs are
        # attributed to the caller
        self._writer = InheritableThread(target=self._write, args=(cut, meta))
        self._writer.start()
        return cut

    def _write(self, cut: DataFrame, meta: dict) -> None:
        """Write the cut as parquet with its per-partition lineage
        observed on the same job, then the commit marker. An error is
        kept for :meth:`flush` to raise."""
        try:
            i = meta["iteration"]
            pid = F.spark_partition_id()
            h = F.xxhash64(F.struct(*[F.col(f"`{c}`") for c in cut.columns]))
            parts = range(cut.rdd.getNumPartitions())
            obs = Observation(f"checkpoint_lineage_{i}")
            aggs = [F.count(F.lit(1)).alias("rows")]
            for p in parts:
                aggs.append(F.count_if(pid == p).alias(f"rows_{p}"))
                # bit_xor: order-insensitive content hash, overflow-free
                # under ANSI mode
                aggs.append(F.bit_xor(F.when(pid == p, h).otherwise(0)).alias(f"h_{p}"))
            cut.observe(obs, *aggs).write.mode("overwrite").parquet(self._data_path(i))
            got = obs.get
            meta["rows"] = got["rows"]
            meta["partitions"] = [
                {"partition": p, "rows": got[f"rows_{p}"], "content_hash": got[f"h_{p}"]}
                for p in parts
                if got[f"rows_{p}"]
            ]
            self.io.write_text_atomic(self._meta_path(i), json.dumps(meta))
        except BaseException as e:  # re-raised by flush()
            self._error = e

    def flush(self) -> None:
        """Join the in-flight write, if any, and re-raise its error."""
        writer, self._writer = self._writer, None
        if writer is None:
            return
        writer.join()
        error, self._error = self._error, None
        if error is not None:
            raise error

    def clear(self) -> None:
        self.flush()
        self.io.delete_recursive(self.dir)
        self.io.mkdirs(f"{self.dir}/meta")


def truncate_lineage(df: DataFrame) -> DataFrame:
    """The lineage cut of every superstep: ``localCheckpoint`` keeps
    iterative plans bounded; :class:`SuperstepCheckpoint` adds the
    durable parquet record beside it."""
    return df.localCheckpoint(eager=True)


class EphemeralStateStore:
    """Parquet-backed double-buffer for iterative state.

    A parquet write+read per superstep gives a flat plan AND bounded
    storage: only the last two iterations exist on disk (carrying the
    logical plan instead, persist-only, blows up Catalyst re-analysis
    time). It is NOT the faster lineage cut at small scale: on a
    24.5k-edge transcript graph at ``local[4]`` (5-6 interleaved
    samples a side) ``localCheckpoint`` was faster on every loop tried
    — k-core 16 rounds 6.15 s vs 8.73 s, hash-min CC 10 rounds 3.87 s
    vs 4.66 s, LPA 10 rounds 3.85 s vs 5.05 s, fixed-k PageRank
    (8 supersteps, the state rule swapped alone, 8 pairs) 3.47 s vs
    5.11 s, convergence-mode PageRank (sf0.1 events graph, 5 samples
    a side) 1.87 s vs 2.18 s, the SSSP relaxation (sf0.1 events graph,
    118k edges, 49 rounds, 3 fresh JVMs a side, together with its
    adjacency partitioning fix) 15.7 s vs 24.3 s, and the power
    iterations on the driver (25k-edge transcript graph, 12 rounds,
    3 fresh JVMs a side, medians) Katz 2.35 s vs 5.05 s, eigenvector
    2.83 s vs 5.90 s, HITS 6.22 s vs 7.83 s, SALSA 5.91 s vs 7.71 s —
    so the :func:`~cminer_spark.plans.loop.superstep_loop` operators
    (which include PageRank, the SSSP relaxation and the power
    iterations) and star CC use :func:`truncate_lineage`. ANF (sketch
    and ``anf_exact``), funnel and BPE still use this store; ANF needs
    its own measured port, BPE keeps it for its persisted-RDD bound
    (see :mod:`cminer_spark.pipeline.bpe`).
    """

    def __init__(self, spark: SparkSession, tag: str = "state"):
        import tempfile

        self.spark = spark
        self.dir = tempfile.mkdtemp(prefix=f"cminer_{tag}_")
        self._kept: list[str] = []

    def save(self, df: DataFrame, it: int) -> DataFrame:
        path = os.path.join(self.dir, f"iter={it}")
        df.write.mode("overwrite").parquet(path)
        # explicit schema: no per-superstep schema-inference job
        back = self.spark.read.schema(df.schema).parquet(path)
        self._kept.append(path)
        while len(self._kept) > 2:
            shutil.rmtree(self._kept.pop(0), ignore_errors=True)
        return back

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
