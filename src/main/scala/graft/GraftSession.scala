package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Mirrors the runtime posture the reference ships for its Flink cluster
  * (reference: internal/templates/files/config/flink-conf.yaml — task slots,
  * checkpoint dir, parallelism defaults) re-expressed as Spark conf:
  *  - UTC session timezone (oracle determinism),
  *  - small fixed shuffle partitioning for local[N] testing; at cluster
  *    scale this is expected to be overridden (AQE coalesces anyway),
  *  - AQE on: runtime re-planning (skew joins, partition coalescing) is the
  *    scale story for 100 TB inputs.
  */
object GraftSession {

  def defaultParallelism: Int =
    sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession
      .builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reliable-tier reclamation (graft.Storage scaladoc, ADVICE r13):
      // iterative loops under graft.checkpointStorage=reliable write one
      // checkpoint FILE SET per round; without this the superseded sets
      // are never deleted (a scope release is a no-op there) —
      // with it the ContextCleaner removes checkpoint files of GC'd RDDs
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      // catalog tables (graft.catalog.Layout) materialize here; keep the
      // warehouse out of the repo checkout
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      .config("spark.ui.enabled", "false")

  /** Local session for tests/benchmarks (driver contract uses local[N]). */
  def local(appName: String = "graft", cores: Int = defaultParallelism): SparkSession = {
    val spark = builder(appName)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dev knob (r14, the SPARK_GRAFT_BENCH_ONLY convention): session
    // confs from the environment — "k=v,k2=v2" — so a storage-tier A/B
    // (e.g. graft.checkpointStorage=memdisk vs disk) runs
    // through the same harness entrypoints the driver grades, without
    // code edits between arms. The driver sets no such env; official
    // runs get the in-code defaults.
    sys.env.get("SPARK_GRAFT_SESSION_CONF").foreach(_.split(",")
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => spark.conf.set(k, v)
          case _ => throw new IllegalArgumentException(
            s"SPARK_GRAFT_SESSION_CONF entry not k=v: '$kv'")
        }
      })
    spark
  }

  /** Cluster-posture builder — the conf this engine expects at real scale
    * (100 TB inputs, O(1000) executors). Master/deploy settings come from
    * spark-submit; this sets the engine-relevant knobs:
    *  - shuffle partitions sized so post-AQE partitions sit near the
    *    advisory target (AQE coalesces down, it cannot split a too-coarse
    *    initial layout except for skew);
    *  - 256 MiB advisory partitions / 256 MiB scan splits: large enough to
    *    amortize task overhead at 10^5-task scale, small enough to fit
    *    executor memory with room for hash tables;
    *  - broadcast threshold raised to 64 MiB — every dimension table in
    *    the star joins stays broadcast at 100× dimension growth. */
  def cluster(appName: String = "graft", shufflePartitions: Int = 2000): SparkSession.Builder =
    builder(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", (256L << 20).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L << 20).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
      .config("spark.sql.adaptive.localShuffleReader.enabled", "true")
      // Streaming state posture: RocksDB provider (required by
      // transformWithState, and the only store whose footprint is disk-
      // not heap-bound once keyed state outgrows executor memory), with
      // changelog checkpointing so each commit ships the delta instead of
      // re-uploading full SST snapshots, and bounded block-cache memory so
      // state reads cannot evict execution memory on shared executors.
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.boundedMemoryUsage", "true")
      .config("spark.sql.streaming.stateStore.rocksdb.maxMemoryUsageMB", "2048")
}
