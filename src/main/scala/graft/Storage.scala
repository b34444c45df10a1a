package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}

/** Engine-wide storage policy for eager materializations of
  * multiply-consumed or iteration-superseded corpus-scale frames.
  *
  * Round 12 proved the pattern winnow-first (SCALE.md: the 100× entropy
  * tier ran at the DEFAULT 8 GB heap on the `disk` tier, ~2× faster
  * than the 48 GB memdisk run) — and round 12's verdict asked for the same knob behind
  * the connected-components family, whose one-time 100× history build
  * hit the identical local-mode heap wall (VERDICT r12 next #2). This
  * object is that generalization: one session conf, one materializer,
  * honored by every iterative/eager checkpoint site in the engine.
  *
  * Tiers (the lineage-free plan shape — and therefore every operator's
  * output — is identical under all three; spec-gated per family):
  *  - `memdisk`: executor-local `localCheckpoint` at MEMORY_AND_DISK —
  *    fastest when the blocks fit; they compete with execution memory.
  *  - `disk`: executor-local `localCheckpoint` at DISK_ONLY — zero heap
  *    residency; the knob that lets 100×-scale builds run at default
  *    heap in local mode, and measured FASTER than memdisk there.
  *  - `reliable`: `sparkContext.setCheckpointDir`-backed `checkpoint()`
  *    — one distributed write, blocks survive executor loss (clusters
  *    where mid-query loss is routine; the localCheckpoint variants
  *    recompute-from-nothing there).
  *
  * Reliable-tier reclamation (ADVICE r13): `Glue.releaseLocalCheckpoint`
  * frees LOCAL checkpoint blocks only — it is a documented no-op on a
  * reliable checkpoint, whose data is FILES under the checkpoint dir. An
  * iterative loop on the reliable tier therefore writes up to maxIter
  * corpus-scale checkpoint file sets per call, and Spark deletes a
  * superseded set only when `spark.cleaner.referenceTracking
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
    * jobs NOW. The returned plan is a bare `LogicalRDD`, so
    * `Glue.releaseLocalCheckpoint` can free its blocks deterministically
    * when superseded. */
  def materializeOnce[T](ds: Dataset[T],
                         familyDefault: String = "memdisk"): Dataset[T] = {
    val mode = ds.sparkSession.conf.getOption(CheckpointStorageConf)
      .getOrElse(familyDefault)
    mode match {
      case "memdisk" => ds.localCheckpoint(true)
      case "disk" =>
        ds.localCheckpoint(true,
          org.apache.spark.storage.StorageLevel.DISK_ONLY)
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
