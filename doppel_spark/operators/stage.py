"""Shared multi-consumer stage materialization (pipeline cut points).

Spark performs no common-subtree elimination: a DataFrame referenced by
N downstream branches re-executes its entire lineage N times (once per
evaluation path per action). For stages whose lineage contains a pandas
UDF or a shuffle, that recompute multiplier dominates wall time — the
round-2 bench measured 2-6× re-execution in every un-materialized
``pairs_from_buckets`` caller. This module is the one place that knows
how to cut a stage, with the strategy picked by input size and master:

* **Scratch parquet table** (large inputs, local master): the write
  costs ~seconds but each consumer re-reads with accurate file
  statistics (AQE auto-broadcasts preserved), column pruning, and
  truncated lineage. Measured on a 300k-doc corpus: persist's columnar
  cache encoder was +22 s and *anti-scaled* with executor threads on
  wide array columns; ``localCheckpoint`` was cheap but its
  ``LogicalRDD`` has no size stats, so every downstream auto-broadcast
  died (60 s → 157 s end to end). The scratch table avoids both.
* **persist + forced count** (small inputs): the fixed cost of a table
  write/read-back (~2 s per stage) only pays off when recompute is
  expensive; below ``SMALL_INPUT_BYTES`` of pipeline input the cached
  columnar batches are small enough that the encoder cost and the lost
  size statistics don't matter. The ``count()`` forces full
  materialization so concurrent downstream jobs (e.g. two broadcast
  subtrees evaluated in parallel) can't race into double compute.
* **Non-local master**: a driver-local scratch dir is invisible to
  executors — writing there would fail or silently produce an empty
  table. On a cluster the table mode therefore requires an
  executor-visible location via the ``spark.doppel.scratchDir`` conf;
  without one we fall back to persist (correct everywhere, merely
  slower at scale).
* **Durable** (built with a ``CheckpointStore``): each ``cut`` is a
  checkpoint stage named after the cut, resumed without evaluating its
  lineage. ``cut_iter``/``release``/``cleanup`` stay transient: CC
  rounds are recomputed from the durable stage that feeds them.

Plan mode rides on the same decision, for pipelines that opt in by
running their body under :meth:`StageMaterializer.static_plan` (today
only ``near_dup_pipeline``; every other ``for_input`` caller plans
under the session's setting whatever its policy). A small input (the
persist policy) whose size estimate is also within Spark's
``spark.sql.autoBroadcastJoinThreshold`` plans those actions
statically: the scope turns AQE off on the input's session for their
duration. At this size every cut and the CC collect are bound by
Spark's per-job fixed cost, and AQE splits each action into one job
per shuffle stage; a static plan runs it as one job (measured: 48 →
24 jobs per 2000-doc SimHash run, same clusters). The broadcast bound
is what keeps a static plan's joins broadcast: without AQE the
planner broadcasts a side only when its *estimate* is within the
threshold, and a pipeline's intermediate estimates are its input's
estimate scaled by row widths, so a larger input could plan
sort-merge joins, among them the representatives semi-join, which
would shuffle the corpus text. Above the bound (and
under every other policy) AQE picks broadcasts from runtime sizes.
The size decision is kept apart from ``mode`` (``small_input``)
because the plan choice is about data size, not about where a cut
lives:

* the **table** policy keeps AQE: at ≳256 MB its runtime coalescing
  and skew-join split (the bucket joins are where LSH skew lands) pay
  for the extra jobs;
* the **non-local fallback** keeps AQE: it turns a *large* input into
  persist only because no scratch dir is executor-visible;
* the **durable** policy keeps AQE: its cuts are checkpoint writes
  whose cost is I/O, not job count (a static plan measured no gain on
  the checkpointed job at 2000 docs).

``spark.sql.adaptive.enabled`` is a session setting read when an
action plans its query, so the scope holds for whatever runs on that
session meanwhile: two pipelines sharing one session from two threads
are unsupported (the second could plan statically, or restore AQE
under the first).

Lifetime: the caller owns the materializer. A library operator that
cuts takes the caller's ``mat`` and never builds or frees one; the
caller builds it with :meth:`StageMaterializer.for_input` over the
frames the operator cuts, and calls ``cleanup()`` once every frame
read from its cuts is consumed (a job stage: after ``store.run`` has
written and re-read it; ``near_dup_pipeline``: ``NearDupResult
.cleanup()``). In persist mode the caches stay referenced by the
returned DataFrames, so ``cleanup()`` must only run after consumers
finish. An entry query's frames live for the process instead: its
caches die with the JVM, and its scratch tables with the per-session
temp dir, which this module's one ``atexit`` hook removes.
"""

from __future__ import annotations

import atexit
import contextlib
import shutil
import tempfile
import uuid
import warnings
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from doppel_spark.checkpoint import CheckpointStore

#: pipeline inputs below this are "small": persist beats a table write.
#: Chosen from the measured crossover — five table cuts cost ~10 s fixed
#: at 20k docs (~40 MB input) and paid for themselves at ≳300k docs
#: (~600 MB input: local[16] 185 s → 44 s).
SMALL_INPUT_BYTES = 256 << 20


def plan_size_bytes(df: DataFrame) -> int | None:
    """Catalyst's size estimate for a plan, or None when unusable.

    Parquet-scan-rooted plans report the real file bytes; plans behind a
    Python UDF or a ``LogicalRDD`` report a propagated guess that can be
    the "unknown" sentinel (Long.MaxValue-ish) — treat anything
    implausibly large as unknown.
    """
    try:
        stats = df._jdf.queryExecution().optimizedPlan().stats()
        size = int(str(stats.sizeInBytes()))
    except Exception:
        return None
    if size < 0 or size > (1 << 50):  # > 1 PiB here means "don't know"
        return None
    return size


class StageMaterializer:
    """Cuts pipeline stages with one consistent, size-aware strategy.

    Build one per pipeline run via :meth:`for_input` (pass the
    pipeline's *input* DataFrames — typically parquet-rooted, so their
    size estimates are trustworthy), then call :meth:`cut` at each
    multi-consumer stage.
    """

    def __init__(self, spark: SparkSession, mode: str = "table",
                 prefix: str = "stage",
                 store: CheckpointStore | None = None) -> None:
        assert mode in ("table", "persist")
        #: the size decision, kept apart from ``mode``: the non-local
        #: fallback below turns a LARGE input into persist
        self.small_input = mode == "persist"
        self._local = (spark.sparkContext.master or "").startswith("local")
        self._scratch_root: str | None = None
        if mode == "table" and not self._local:
            shared = spark.conf.get("spark.doppel.scratchDir", None)
            if shared:
                # string join, not os.path.join: scratchDir may be a
                # filesystem URI (hdfs://, s3a://) and os.path.join
                # mangles those on some inputs
                self._scratch_root = (shared.rstrip("/") + "/"
                                      + f"{prefix}_{uuid.uuid4().hex[:8]}")
            else:
                warnings.warn(
                    "StageMaterializer: non-local master without "
                    "spark.doppel.scratchDir — a driver-local scratch dir is "
                    "invisible to executors; falling back to persist",
                    RuntimeWarning, stacklevel=2)
                mode = "persist"
        self.spark = spark
        self.mode = mode
        self.prefix = prefix
        self.store = store
        self.paths: list[str] = []
        self.cached: list[DataFrame] = []
        #: id(returned frame) → ("persist", df) | ("table", path); lets
        #: :meth:`release` free one cut early in iterative pipelines
        self._frames: dict[int, tuple[str, object]] = {}
        self._names: set[str] = set()  # names cut so far

    @classmethod
    def for_input(cls, *dfs: DataFrame, prefix: str = "stage",
                  store: CheckpointStore | None = None) -> "StageMaterializer":
        """Pick the strategy from the size estimates of every frame the
        caller will cut (its pipeline inputs).

        Persist when every estimate is under ``SMALL_INPUT_BYTES`` or
        unknown (direct operator calls on ad-hoc frames, which in
        practice are tests and small corpora); scratch tables
        otherwise. Pipelines at real scale read from parquet/Iceberg,
        whose estimates are accurate; a caller that needs one policy
        whatever the size builds ``StageMaterializer(spark, mode=...)``.
        """
        small = all(size is None or size < SMALL_INPUT_BYTES
                    for size in map(plan_size_bytes, dfs))
        return cls(dfs[0].sparkSession, mode="persist" if small else "table",
                   prefix=prefix, store=store)

    @contextlib.contextmanager
    def static_plan(self, df: DataFrame) -> Iterator[None]:
        """Plan the actions run in this block without AQE when the
        pipeline input ``df`` is small, its size estimate is within
        ``spark.sql.autoBroadcastJoinThreshold`` and the policy is not
        durable (module docstring); otherwise a no-op. The session's
        previous setting is restored on exit, also when the block
        raises. Frames built inside and consumed after the block plan
        under the caller's setting."""
        conf = self.spark._jsparkSession.sessionState().conf()
        static = (self.small_input and self.store is None
                  and (size := plan_size_bytes(df)) is not None
                  and size <= conf.autoBroadcastJoinThreshold())
        if not static:
            yield
            return
        key = "spark.sql.adaptive.enabled"
        prior = self.spark.conf.get(key)
        self.spark.conf.set(key, "false")
        try:
            yield
        finally:
            self.spark.conf.set(key, prior)

    def _table_root(self) -> str:
        if self._scratch_root is None:
            spark = self.spark
            root = getattr(spark, "_doppel_spill_dir", None)
            if root is None:
                root = tempfile.mkdtemp(prefix="doppel_spill_")
                spark._doppel_spill_dir = root
                atexit.register(shutil.rmtree, root, ignore_errors=True)
            self._scratch_root = root
        return self._scratch_root

    def cut(self, df: DataFrame, name: str, force: bool = True) -> DataFrame:
        """Materialize ``df`` and return a frame reading the result.

        With a store this is ``store.run(name, ...)``; ``force`` is moot.
        A name is one stage: a second cut of it raises ``ValueError``
        (under a store it would resume the first one's table).

        ``force=False`` (persist mode only) skips the eager ``count()``:
        the cache fills on the first downstream action instead. Only
        safe when the first consumer runs before any CONCURRENT one —
        two parallel jobs racing into a cold cache each recompute the
        lineage (the round-2 bug the forced count exists to prevent).
        Sequential-consumer callers (iterative loops) save one job. Only
        one block manager serializes a lazy fill, so a non-local master
        always forces the count."""
        if name in self._names:
            raise ValueError(f"StageMaterializer: {name!r} is already cut")
        self._names.add(name)
        if self.store is not None:
            return self.store.run(name, lambda: df)
        if self.mode == "persist":
            out = df.persist(StorageLevel.MEMORY_AND_DISK)
            if force or not self._local:
                out.count()  # force: concurrent consumers must not race
            self.cached.append(out)
            self._frames[id(out)] = ("persist", out)
            return out
        return self._table_cut(df, name)

    def _table_cut(self, df: DataFrame, name: str) -> DataFrame:
        path = (self._table_root().rstrip("/") + "/"
                + f"{self.prefix}_{name}_{uuid.uuid4().hex[:8]}")
        # compression off: transient local data; codec CPU is the
        # contended resource this path exists to avoid
        df.write.option("compression", "none").parquet(path)
        self.paths.append(path)
        out = self.spark.read.parquet(path)
        # the tuple keeps a strong reference to `out`: id() keys are
        # only unique while the object lives, and a GC'd frame's id
        # could be reused by an unrelated object, making release()
        # delete a live scratch table (ADVICE r4)
        self._frames[id(out)] = ("table", path, out)
        return out

    def cut_iter(self, df: DataFrame, name: str,
                 eager: bool = True) -> DataFrame:
        """Cut for ITERATIVE pipelines — one cut per loop round, where
        the LOGICAL plan must truncate, not just the data recompute.

        ``persist()`` caches data but leaves the logical plan nested:
        round i's plan contains two copies of round i−1's plan (the
        propagate join + the union), so analyzer/optimizer time doubles
        per round — measured on a 9-node connected-components chain the
        per-round cut cost went 0.6 → 1.1 → 2.0 → 7.3 → 22.7 s while
        the data stayed at 9 rows. In persist mode this therefore uses
        ``localCheckpoint(eager=True)``, which truncates the plan to a
        ``LogicalRDD``. Its known cost — no size statistics, so AQE
        auto-broadcasts die downstream (module docstring) — is a
        SCALE problem, and persist mode only serves small inputs, where
        every join is cheap regardless. In table mode the scratch
        parquet write truncates the plan AND keeps stats — the right
        tradeoff for large inputs, at a ~seconds fixed cost per round.

        ``eager=False`` (persist mode only) defers materialization to
        the caller's next action on the frame: an iterative loop that
        runs a convergence check right after each cut can fold the
        truncation into that check's job instead of paying a separate
        one — per-round job count halves (measured: the 5k-doc bench
        CC rounds dropped ~1.7 s to ~0.9 s each). Only safe when the
        caller's next action runs BEFORE any concurrent consumer.
        """
        if self.mode == "persist":
            out = df.localCheckpoint(eager=eager)
            # localCheckpoint blocks live in the block manager until the
            # RDD is GC'd; there is no clean per-frame free, so release()
            # treats these as no-ops (same lifetime the pre-materializer
            # CC code had)
            self._frames[id(out)] = ("localckpt", out)
            return out
        return self._table_cut(df, name)

    def release(self, df: DataFrame) -> None:
        """Free ONE cut early — for iterative pipelines (connected
        components) where round i−1's table/cache is dead the moment
        round i is materialized; holding every round until
        :meth:`cleanup` would grow scratch space linearly with the
        iteration count. No-op for frames this materializer does not
        own. The frame must not be read again afterwards."""
        entry = self._frames.pop(id(df), None)
        if entry is None:
            return
        kind, val = entry[0], entry[1]
        if kind == "persist":
            val.unpersist()
            self.cached.remove(val)
        elif kind == "table":
            self.paths.remove(val)
            self._rm_path(val)

    def _rm_path(self, path: str) -> None:
        """Delete a scratch table wherever it lives. Local paths (no
        scheme, or file:) go through ``shutil``; URI schemes (hdfs://,
        s3a://, …) go through the Hadoop FileSystem API — ``shutil``
        cannot delete remote paths and silently leaked them before."""
        if "://" not in path or path.startswith("file:"):
            local = path
            for pre in ("file://", "file:"):
                if local.startswith(pre):
                    local = local[len(pre):]
                    break
            shutil.rmtree(local, ignore_errors=True)
            return
        try:
            jvm = self.spark._jvm
            hpath = jvm.org.apache.hadoop.fs.Path(path)
            fs = hpath.getFileSystem(self.spark._jsc.hadoopConfiguration())
            fs.delete(hpath, True)
        except Exception as exc:  # noqa: BLE001 — cleanup must not kill the job
            warnings.warn(f"StageMaterializer: could not delete scratch "
                          f"table {path}: {exc}", RuntimeWarning, stacklevel=2)

    def cleanup(self) -> None:
        """Reclaim caches/tables. Only safe after consumers finish;
        the caller that built this materializer calls it.

        Tolerates a stopped SparkContext: a result's ``cleanup()`` can
        run after ``spark.stop()`` — ``unpersist`` on a dead context
        raises from the JVM (the block manager endpoint is gone), and
        the cached data died with the context anyway. Scratch-table
        deletion is context-free (``shutil``) for local paths and
        already exception-guarded for remote ones, so it still runs."""
        for df in self.cached:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — context already stopped
                pass
        self.cached.clear()
        for p in self.paths:
            self._rm_path(p)
        self.paths.clear()
        self._frames.clear()

