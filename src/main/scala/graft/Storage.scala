package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.storage.StorageLevel

/** The one way the engine materializes a frame. Every persist, eager
  * checkpoint and release in the engine goes through this object; no
  * other source file calls `persist`, `unpersist`, `localCheckpoint`,
  * `checkpoint` or `Glue.releaseLocalCheckpoint` (`StorageGuardSpec`
  * scans the sources for them).
  *
  * Two forms:
  *  - [[scoped]] for working sets: `Storage.scoped { s => ... }` hands
  *    the body a [[Scope]]. What the body caches (`s.cache`) or
  *    checkpoints (`s.materialize`) is released when the block exits,
  *    whether it returns or throws. `s.release` frees a superseded
  *    iteration round early. A frame the block returns — and any held
  *    frame the returned frame's plan still reads — is detached: it
  *    stays valid after the scope and the caller owns it (a returned
  *    checkpoint is reclaimed by the ContextCleaner once it is garbage;
  *    a lazy result over a cached working set keeps that cache entry,
  *    the opt-out the `materialize = false` plan audits rely on).
  *  - [[materializeOnce]] for a result that outlives the call: an eager
  *    checkpoint with no owner, reclaimed by the ContextCleaner when the
  *    frame is garbage. A plain `persist` returned in a lazy plan would
  *    instead leave a CacheManager entry that only `clearCache()`
  *    reclaims.
  *
  * Tiers of the eager form (the lineage-free plan shape — and therefore
  * every operator's output — is identical under all three; spec-gated
  * per family), chosen by [[CheckpointStorageConf]], else by the call
  * site's family default:
  *  - `memdisk`: executor-local `localCheckpoint` at MEMORY_AND_DISK —
  *    fastest when the blocks fit; they compete with execution memory.
  *    The default of every family not listed below.
  *  - `disk`: executor-local `localCheckpoint` at DISK_ONLY — zero heap
  *    residency. The default of the winnow, exact-jaccard and
  *    connected-components families, whose frames scale with corpus
  *    characters or whole-history graphs: SCALE.md measured the disk
  *    tier ~2× faster than memdisk at the 100× winnow entropy tier and
  *    5.5× faster on the 100× components-index history build, both at
  *    the default heap, and the disk-checkpointed routes were immune to
  *    the suite-neighbor block-store pressure that evicted and silently
  *    recomputed lazy MEMORY_AND_DISK persists.
  *  - `reliable`: `sparkContext.setCheckpointDir`-backed `checkpoint()`
  *    — one distributed write, blocks survive executor loss (clusters
  *    where mid-query loss is routine; the localCheckpoint variants
  *    recompute-from-nothing there).
  *
  * Reliable-tier reclamation: a scope's release frees LOCAL checkpoint
  * blocks only — reliable checkpoint data are FILES under the checkpoint
  * dir. An iterative loop on the reliable tier therefore writes up to
  * maxIter corpus-scale checkpoint file sets per call, and Spark deletes
  * a superseded set only when `spark.cleaner.referenceTracking
  * .cleanCheckpoints=true` lets the ContextCleaner remove checkpoint
  * files of GC'd RDDs. [[GraftSession.builder]] sets that conf, so
  * engine-built sessions reclaim them; a caller embedding the engine in
  * its own session should enable it too (or point the checkpoint dir at
  * scratch space sized for maxIter × frame size and clear it per job).
  */
object Storage {

  /** Engine-wide session conf: memdisk | disk | reliable. When unset,
    * each family falls back to its own default. */
  val CheckpointStorageConf = "graft.checkpointStorage"

  /** Eagerly materialize `ds` per the storage policy:
    * [[CheckpointStorageConf]] if set, else `familyDefault`. Runs Spark
    * jobs NOW. The returned plan is a bare `LogicalRDD`; nothing owns
    * it, so its blocks live until the frame is garbage (the unscoped
    * form — inside a [[scoped]] block use `Scope.materialize`). A local
    * checkpoint whose job fails releases the blocks it had written. */
  def materializeOnce[T](ds: Dataset[T],
                         familyDefault: String = "memdisk"): Dataset[T] = {
    val mode = ds.sparkSession.conf.getOption(CheckpointStorageConf)
      .getOrElse(familyDefault)
    mode match {
      case "memdisk" => filled(ds.localCheckpoint(false))
      case "disk" => filled(ds.localCheckpoint(false, StorageLevel.DISK_ONLY))
      case "reliable" =>
        require(
          ds.sparkSession.sparkContext.getCheckpointDir.isDefined,
          s"checkpointStorage=reliable requires " +
            "sparkContext.setCheckpointDir to be set first")
        ds.checkpoint(true)
      case other => throw new IllegalArgumentException(
        s"checkpointStorage must be memdisk|disk|reliable, got $other")
    }
  }

  /** Fill a lazy local checkpoint: the job an eager `localCheckpoint`
    * runs (a count of every partition, which stores them at the
    * checkpoint's level; none for an RDD without partitions). Unlike the
    * eager call, the RDD is in hand when the job fails, so its partial
    * blocks are released instead of waiting for the frame to be
    * collected. */
  private def filled[T](ck: Dataset[T]): Dataset[T] = {
    val rdd = ck.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd
    try if (rdd.getNumPartitions > 0) rdd.count()
    catch { case t: Throwable => Glue.releaseLocalCheckpoint(ck); throw t }
    ck
  }

  /** Run `body` with a fresh [[Scope]] and release everything it holds
    * when the body exits — on return or on throw. Frames reachable from
    * the returned value (a `Dataset`, or one inside a tuple) are
    * detached, together with every held frame their plans read; the
    * rest is released. */
  def scoped[A](body: Scope => A): A = {
    val s = new Scope
    var result: Option[A] = None
    try { result = Some(body(s)); result.get }
    finally s.close(result)
  }

  /** The frames one [[scoped]] block has materialized. */
  final class Scope private[Storage] () {
    // (frame, is an eager checkpoint); a cached frame is a persist
    private val held = scala.collection.mutable.ArrayBuffer
      .empty[(Dataset[_], Boolean)]

    /** Lazy MEMORY_AND_DISK persist of a frame the block reads more
      * than once; built by the first action that reads it. */
    def cache[T](ds: Dataset[T]): Dataset[T] = {
      val p = ds.persist(StorageLevel.MEMORY_AND_DISK)
      held += ((p, false))
      p
    }

    /** Eager checkpoint of `ds` on the storage tier
      * ([[materializeOnce]]), owned by this scope. */
    def materialize[T](ds: Dataset[T],
                       familyDefault: String = "memdisk"): Dataset[T] = {
      val m = materializeOnce(ds, familyDefault)
      held += ((m, true))
      m
    }

    /** Free a held frame now — a superseded iteration round. No-op for
      * a frame this scope does not hold. */
    def release(ds: Dataset[_]): Unit = {
      val i = held.indexWhere(_._1 eq ds)
      if (i >= 0) free(held.remove(i))
    }

    private def free(h: (Dataset[_], Boolean)): Unit =
      if (h._2) Glue.releaseLocalCheckpoint(h._1) else h._1.unpersist()

    private[Storage] def close(result: Option[Any]): Unit = {
      val kept = result.toSeq.flatMap(frames).map(_.queryExecution.analyzed)
      val drop = held.filterNot(h => kept.exists(reads(_, h)))
      held.clear()
      drop.foreach(free)
    }

    private def frames(x: Any): Iterator[Dataset[_]] = x match {
      case d: Dataset[_] => Iterator.single(d)
      case t: Product if t.productPrefix.startsWith("Tuple") =>
        t.productIterator.flatMap(frames)
      case _ => Iterator.empty
    }

    /** Does `plan` read the held frame: its checkpoint RDD, or (for a
      * cached frame) a subtree the CacheManager would serve from it. */
    private def reads(plan: LogicalPlan, h: (Dataset[_], Boolean)): Boolean = {
      val own = h._1.queryExecution.analyzed
      if (h._2) own match {
        case lr: LogicalRDD => plan.exists {
          case r: LogicalRDD => r.rdd eq lr.rdd
          case _ => false
        }
        case _ => false
      } else plan.exists(n => n.getClass == own.getClass && n.sameResult(own))
    }
  }

  /** Spread a narrow frame across the session's cores when its scan
    * parallelism is below them — the small-file guard (r14; guide §2.5
    * "input skew": a sub-block-size parquet file scans as ONE task, and
    * a narrow per-row pipeline — since r14 that is the whole winnow
    * fingerprinting pass and the span posting generation — inherits
    * that single partition all the way into its checkpointed blocks,
    * serializing every downstream join; the r13 plans took incidental
    * parallelism from their now-removed corpus-wide exchanges).
    *
    * Scale-adaptive by construction: a real corpus scan already has
    * >= defaultParallelism partitions, so this is a NO-OP at 100 TB —
    * the hash exchange (deterministic, keyed, REPARTITION_BY_NUM so AQE
    * never re-coalesces it) exists only in the small-scan regime where
    * it moves a few MB.
    *
    * Laziness contract (ADVICE r14): `df.rdd` is only safe to probe on
    * an exchange-FREE plan — under AQE, `Dataset.rdd` on a plan
    * containing an exchange materializes every upstream query stage
    * (real shuffle jobs run at DataFrame-CONSTRUCTION time and re-run
    * at action time; there is no cross-execution exchange reuse). So
    * the partition count is probed only when the optimized plan is a
    * narrow chain (project/filter/generate/union) over leaves; a plan
    * that already contains a repartition, join, aggregate, window or
    * sort has session-governed shuffle parallelism anyway — spreading
    * it again is redundant, and probing it would run hidden jobs (the
    * text_span_dedup_incr double-spread was exactly that: the query
    * spread the scan, the operator re-probed the spread frame, and the
    * inner `.rdd` ran scan+shuffle eagerly during construction). */
  def spread(df: DataFrame, key: Column): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical._
    val par = df.sparkSession.sparkContext.defaultParallelism
    val shuffleGoverned = df.queryExecution.optimizedPlan.exists {
      case _: RepartitionOperation => true // already spread/repartitioned
      case _: Join | _: Aggregate | _: Window | _: Sort => true
      case _: Deduplicate | _: GlobalLimit | _: SetOperation => true
      case _ => false
    }
    if (shuffleGoverned) df
    else if (df.rdd.getNumPartitions >= par) df // exchange-free: no job
    else df.repartition(par, key)
  }
}
