package graft.catalog

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at}

import graft.{Storage, Tables}
import graft.statements.Statements

/** Catalog registration + physical table layout (SURVEY.md §7.4.6; VERDICT
  * round-2 "what's missing" #6).
  *
  * Everything elsewhere in the engine reads raw parquet paths — correct,
  * but not the whole 100 TB story: a production deployment registers
  * tables in a catalog (so `spark.sql` works over names, statistics
  * attach, and DDL flows through the statements layer exactly like the
  * reference's generated pipelines) and lays out the biggest join pairs
  * BUCKETED on the join key, so the recurring fact-fact join is
  * co-located and never shuffles either side.
  *
  * Two pieces:
  *  - [[registerTables]] — `CREATE TABLE … USING parquet LOCATION` DDL for
  *    the test tables, routed through the statements layer
  *    (clean → validate → `${DATA_DIR}` substitute → `spark.sql`), i.e.
  *    A1–A5 end-to-end against the real session catalog;
  *  - [[bucketize]] / [[bucketedJoin]] — write `orders`/`lineitem` bucketed
  *    by order key via `bucketBy(...).sortBy(...).saveAsTable`, and the
  *    co-located join whose physical plan must contain NO shuffle exchange
  *    (asserted by BucketedLayoutSpec). At 100 TB this is the difference
  *    between re-shuffling ~the whole corpus per join and reading
  *    pre-placed buckets.
  */
object Layout {

  /** Tables safe to expose as plain parquet catalog tables (events needs
    * the nanos rebuild in graft.Tables, so it stays path-based). */
  val plainTables: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")

  /** DDL in the statements-layer dialect: `${DATA_DIR}` is substituted at
    * deploy time like the reference's `${INPUT_TOPIC}` (flink.go:513-527). */
  def tableDdl(table: String): String =
    s"""CREATE TABLE IF NOT EXISTS $table
       |USING parquet
       |LOCATION '$${DATA_DIR}/$table.parquet'""".stripMargin

  /** Register `tables` over the parquet files in `dataDir` through the full
    * statements pipeline: clean → destructive-op validate → substitute →
    * `spark.sql`. Re-registration with a DIFFERENT dataDir drops first (the
    * location of an external table is fixed at create time). */
  def registerTables(spark: SparkSession, dataDir: String,
                     tables: Seq[String] = plainTables): Unit =
    tables.foreach { t =>
      val cleaned = Statements.clean(tableDdl(t))
      Statements.validate(spark, cleaned).foreach(err =>
        throw new IllegalArgumentException(s"catalog DDL for $t rejected: $err"))
      val sql = Statements.substitute(cleaned, Map("DATA_DIR" -> dataDir))
      if (spark.catalog.tableExists(t)) {
        // compare NORMALIZED full paths, not substrings: contains() would
        // accept a stale table at /data/sf10 when re-pointing to /data/sf1
        // (prefix match) and silently serve the wrong data
        val loc = spark.sql(s"DESCRIBE TABLE EXTENDED $t")
          .filter(col("col_name") === "Location")
          .collect().headOption.map(_.getString(1)).getOrElse("")
        val locPath = java.nio.file.Paths.get(
          new java.net.URI(loc).getPath).normalize.toString
        val wantPath = java.nio.file.Paths.get(
          s"${dataDir.stripSuffix("/")}/$t.parquet").toAbsolutePath.normalize.toString
        if (locPath != wantPath) spark.sql(s"DROP TABLE $t")
      }
      spark.sql(sql)
    }

  /** Bucketed fact layout: both sides of the recurring orders⋈lineitem
    * join land pre-hashed into the same number of buckets on the join key.
    * `sortBy` inside each bucket lets the sort-merge join skip its sort
    * when each bucket holds one file. One-time write cost, every
    * subsequent join is shuffle-free on both sides. */
  def bucketize(spark: SparkSession, dataDir: String, buckets: Int,
                suffix: String = "_b"): Unit = {
    Tables(spark, dataDir, "orders")
      .write.mode("overwrite")
      .bucketBy(buckets, "o_orderkey").sortBy("o_orderkey")
      .format("parquet").saveAsTable(s"orders$suffix")
    Tables(spark, dataDir, "lineitem")
      .write.mode("overwrite")
      .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
      .format("parquet").saveAsTable(s"lineitem$suffix")
  }

  /** The co-located join over the bucketed layout. With matching bucket
    * counts on both sides the planner reads buckets in place: the physical
    * plan must show a SortMergeJoin with no ShuffleExchange on either
    * input. */
  def bucketedJoin(spark: SparkSession, suffix: String = "_b"): DataFrame =
    spark.table(s"lineitem$suffix")
      .join(spark.table(s"orders$suffix"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderstatus"),
        col("l_linenumber"), col("l_quantity"))

  /** IVF cell-partitioned embedding layout: the corpus written
    * `partitionBy(cell)` where cell = the vector's top-1 IVF assignment.
    * This is the physical half of the ANN search story
    * (graft.operators.Similarity.topKForVectorIvf): a probe that filters
    * on `cell` becomes PARTITION PRUNING — the scan opens only nprobe/k
    * of the corpus directories instead of reading 100 TB and discarding
    * (k-nprobe)/k of it. LayoutSpec asserts the pruning in the physical
    * plan. The same trained centroid matrix must be used for writing and
    * probing (it is version-pinned metadata of the layout, exactly like a
    * bucketing spec). */
  /** Persisted MinHash LSH index for incremental dedup
    * (graft.operators.Dedup.minHashNearDupsAgainstIndex): two bucketed
    * tables derived from one signature pass over the corpus —
    *  - `<name>_sigs`  (id, sig)     bucketed on `id`: the join-back side,
    *    ~numHashes×8 bytes/doc;
    *  - `<name>_bands` (id, bucket)  bucketed on `bucket`: the candidate
    *    join side, numHashes/rows entries per doc.
    * With `_bands` pre-hashed on the join key, each daily batch shuffles
    * ONLY itself into the bucket layout; the corpus — the 100 TB side —
    * is read in place, never reshuffled, never re-shingled. The
    * `repartition(buckets, bucket)` before the write matters: the
    * repartition hash equals the bucketBy hash, so every output task owns
    * exactly one bucket and writes one file (without it each task writes
    * into every bucket — tasks × buckets small files, and per-bucket
    * multi-file layouts force a sort back into the read path).
    * shingleN/numHashes/bands are version-pinned metadata of the layout:
    * probes must pass the same values (like a bucketing spec). */
  /** True iff BOTH index tables of a [[minhashBandIndex]] layout exist —
    * the only safe "already built" check: a run that died between the
    * `_sigs` and `_bands` writes leaves a half-index that every probe
    * would then read as current. */
  def minhashIndexComplete(spark: SparkSession, tableName: String): Boolean =
    spark.catalog.tableExists(s"${tableName}_sigs") &&
      spark.catalog.tableExists(s"${tableName}_bands")

  /** Replay ledger for the LSM appends (round-9: the streaming loop's
    * foreachBatch replays a batch after failure, and an un-guarded
    * re-append would fold the same rows twice). One empty marker
    * directory per applied (table, tag) under
    * `<warehouse>/<table>_applied/`; an append guarded by a tag SKIPS
    * when its marker exists. The marker is written AFTER the append
    * commits, so the residual window is a crash between the append's
    * job commit and the marker write — a replay then re-appends once.
    * That window is why the ledger is only used for the tables whose
    * PROBES are duplicate-absorbing (signature/key/fingerprint tables:
    * distinct-pair and anti-join semantics — duplicates cost bytes,
    * never answers); the span census, where duplicates change counts,
    * gets exact source-keyed folds instead ([[spanGramCensusAppend]]). */
  private def markerPath(spark: SparkSession, table: String,
                         tag: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${table}_applied/$tag")

  /** True iff batch `tag` was already folded into `table`. */
  def appendApplied(spark: SparkSession, table: String, tag: String): Boolean = {
    val p = markerPath(spark, table, tag)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def markApplied(spark: SparkSession, table: String, tag: String): Unit = {
    val p = markerPath(spark, table, tag)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(p)
  }

  /** Run `append` once per (table, tag): skip when the ledger already
    * has the tag, mark after the append commits. tag = None runs
    * unguarded (non-replaying callers). */
  private def idempotently(spark: SparkSession, table: String,
                           tag: Option[String])(append: => Unit): Unit =
    tag match {
      case Some(t) if appendApplied(spark, table, t) => ()
      case _ =>
        append
        tag.foreach(t => markApplied(spark, table, t))
    }

  /** Clear a table's replay ledger — every (re)build path must call
    * this: the ledger is per table INCARNATION (stale markers on a
    * rebuilt table would silently skip its first appends). */
  private def clearLedger(spark: SparkSession, table: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${table}_applied")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Per-batch durable OUTPUT snapshots for the streaming loops
    * (round-10, ADVICE r9 medium): a foreachBatch body that probes
    * standing tables and then folds the batch INTO them is not
    * replay-safe on its own — a crash after the folds but before the
    * micro-batch commit replays the batch against tables that already
    * contain its own contribution, so the probes strip the batch's own
    * content and the replay delivers EMPTY output downstream (documents
    * in the indexes but never delivered). The loop therefore snapshots
    * its decided output (kept/pairs) keyed by (tableName, batchTag)
    * BEFORE any fold; on replay the committed snapshot is delivered
    * verbatim and the (ledger-guarded / fold-exact) appends re-run from
    * it. The `_committed` marker is written after every frame commits,
    * so a partial snapshot is recomputed, never served.
    *
    * Snapshots are per table INCARNATION like the ledger — rebuild and
    * drop paths clear them ([[minhashBandIndex]], [[dropMinhashIndex]]):
    * a fresh index with a fresh stream checkpoint restarts batch ids at
    * 0, and a stale snapshot would serve the previous incarnation's
    * output. One directory per batch; callers may prune old tags (they
    * are only read when that exact batch replays). */
  private def batchOutDir(spark: SparkSession, tableName: String,
                          tag: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${tableName}_batchout/$tag")

  /** True iff batch `tag`'s output snapshot committed in full. */
  def batchOutputCommitted(spark: SparkSession, tableName: String,
                           tag: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(
      batchOutDir(spark, tableName, tag), "_committed")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Write the batch's decided output frames, then the commit marker.
    * Overwrite semantics per frame: a replay of a half-written snapshot
    * recomputes and overwrites cleanly. */
  def batchOutputWrite(spark: SparkSession, tableName: String, tag: String,
                       frames: Seq[(String, DataFrame)]): Unit = {
    val dir = batchOutDir(spark, tableName, tag)
    frames.foreach { case (name, df) =>
      df.write.mode("overwrite")
        .parquet(new org.apache.hadoop.fs.Path(dir, name).toString)
    }
    val marker = new org.apache.hadoop.fs.Path(dir, "_committed")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(marker)
  }

  /** Read one frame of a committed batch-output snapshot. */
  def batchOutputRead(spark: SparkSession, tableName: String, tag: String,
                      name: String): DataFrame =
    spark.read.parquet(
      new org.apache.hadoop.fs.Path(batchOutDir(spark, tableName, tag), name).toString)

  /** Delete every batch-output snapshot of a table incarnation. */
  def clearBatchOutputs(spark: SparkSession, tableName: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${tableName}_batchout")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Delete every tag under a per-batch artifact directory EXCEPT
    * `keepTag` — the streaming loops' retention rule (round-11, ADVICE
    * r10 low: un-pruned, the output snapshots accumulate a second
    * ever-growing copy of the admitted corpus). Sound because Spark's
    * micro-batch engine commits batch N before starting N+1: once the
    * loop is processing batch N, no earlier batch can ever replay, so
    * every tag but the current one is dead weight. */
  private def pruneTagDir(spark: SparkSession, dir: String,
                          keepTag: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$dir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p))
      fs.listStatus(p).foreach { st =>
        if (st.getPath.getName != keepTag) fs.delete(st.getPath, true)
      }
  }

  /** Prune all batch-output snapshots of `tableName` except `keepTag`. */
  def pruneBatchOutputs(spark: SparkSession, tableName: String,
                        keepTag: String): Unit =
    pruneTagDir(spark, s"${tableName}_batchout", keepTag)

  /** Prune all replay-ledger markers of `table` except `keepTag` —
    * same retention rule as [[pruneBatchOutputs]] (markers for
    * committed batches can never be consulted again). */
  def pruneLedger(spark: SparkSession, table: String, keepTag: String): Unit =
    pruneTagDir(spark, s"${table}_applied", keepTag)

  /** Reset the per-stream replay state of an index WITHOUT rebuilding
    * it — the supported call for the "keep the standing index, start a
    * new streaming query with a fresh checkpoint" path (round-11,
    * ADVICE r10 medium): a fresh checkpoint restarts batch ids at 0,
    * and although the loops' content-keyed batch tags make a stale
    * snapshot for a DIFFERENT batch unservable, an id-and-content
    * collision with a dead stream's final batch would still serve
    * output decided against that stream's (differently accrued) index.
    * Clearing the ledger and the snapshots before the new query starts
    * removes the collision surface entirely. Call once per index table
    * the stream folds into (the minhash base name, `<para>_pkeys`,
    * `<winnow>_wfps` — the span census needs no reset: its source tags
    * are data, folded exactly). Round-12: the streaming loops now
    * AUTO-DETECT the forgotten reset per micro-batch
    * ([[ensureStreamOwner]]), so this manual call is a supported
    * belt-and-suspenders, no longer a correctness requirement. */
  def resetStreamState(spark: SparkSession, tableName: String): Unit = {
    clearLedger(spark, tableName)
    clearBatchOutputs(spark, tableName)
    clearStreamOwner(spark, tableName)
  }

  /** Per-table stream-owner marker directory: `<table>_streamq/<queryId>`
    * records WHICH streaming query (the checkpoint-persistent
    * `StreamingQuery.id`, stable across crash-restarts of the same
    * checkpoint, fresh for a fresh checkpoint) last folded into the
    * table's stream state. */
  private def streamOwnerDir(spark: SparkSession,
                             tableName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${tableName}_streamq")

  private def clearStreamOwner(spark: SparkSession, tableName: String): Unit = {
    val p = streamOwnerDir(spark, tableName)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }

  /** Fresh-checkpoint-restart auto-detection (round-12, VERDICT r11
    * next #4): callers restarting a stream against a STANDING index were
    * required to remember [[resetStreamState]]; forgetting it left a
    * dead stream's ledger markers and snapshots keyed alongside the new
    * stream's — and an id+content collision with the dead stream's final
    * batch would serve output decided against that stream's differently
    * accrued index. The streaming loops now call this per micro-batch
    * with their query id: a marker for the SAME query is a no-op (one
    * cheap existence check — crash-restarts of the same checkpoint keep
    * their query id and their replay state); a marker for a DIFFERENT
    * query means the caller forgot the reset, and the stale state is
    * cleared automatically before the new query's first fold (exactly
    * [[resetStreamState]], safe because micro-batch 0 has folded nothing
    * yet and the dead query can never commit again).
    *
    * SINGLE-WRITER-PER-TABLE INVARIANT (ADVICE r11): at most ONE live
    * streaming query may fold into a given index table. Two concurrent
    * writers were never sound — each batch's pruning deletes the other
    * query's snapshots/markers mid-flight — and under this guard they
    * would additionally reset each other's ledger every batch. Fan-in
    * belongs UPSTREAM (union the sources into one stream); this guard
    * makes the sequential-restart path safe, not the concurrent one. */
  def ensureStreamOwner(spark: SparkSession, tableName: String,
                        queryId: String): Boolean = {
    val dir = streamOwnerDir(spark, tableName)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mine = new org.apache.hadoop.fs.Path(dir, queryId)
    if (fs.exists(mine)) false
    else {
      val stale = fs.exists(dir) && fs.listStatus(dir).nonEmpty
      if (stale) {
        // a different query owns the standing stream state: the
        // forgotten-reset path — clear it before this query's first fold
        clearLedger(spark, tableName)
        clearBatchOutputs(spark, tableName)
        fs.delete(dir, true)
      }
      fs.mkdirs(mine)
      // true = a dead stream's state was cleared; callers folding into
      // SIDE tables (paragraph keys, winnow fps) reset those ledgers too
      stale
    }
  }

  /** Drop a managed table AND its warehouse directory. The catalog is
    * session-scoped but the warehouse directory is not — a previous
    * session's files under the managed-table LOCATION survive and make a
    * later `saveAsTable` refuse with LOCATION_ALREADY_EXISTS, so every
    * rebuild path needs this exact sequence. */
  def dropTable(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/$table")
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    // the replay ledger is PER TABLE INCARNATION: a rebuilt table with
    // stale markers would silently skip its first appends
    val ledger = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${table}_applied")
    if (fs.exists(ledger)) fs.delete(ledger, true)
  }

  /** [[dropTable]] for both tables of a [[minhashBandIndex]] (previously
    * copy-pasted in three probe/harness sites). Also clears the minhash
    * replay ledger — it is keyed on the BASE name (one tag guards both
    * tables), which dropTable's per-table cleanup misses (ADVICE r9: a
    * rebuild through here without minhashBandIndex inherited stale
    * markers and silently skipped the new incarnation's first tagged
    * appends) — and the per-batch output snapshots, stale for the same
    * incarnation reason. */
  def dropMinhashIndex(spark: SparkSession, tableName: String): Unit = {
    Seq("_sigs", "_bands").foreach(sfx => dropTable(spark, s"$tableName$sfx"))
    clearLedger(spark, tableName)
    clearBatchOutputs(spark, tableName)
    clearStreamOwner(spark, tableName)
  }

  def minhashBandIndex(spark: SparkSession, docs: DataFrame,
                       idCol: String, textCol: String,
                       shingleN: Int = 2, numHashes: Int = 32, bands: Int = 8,
                       buckets: Int = 8, tableName: String = "minhash_index",
                       unicodeForm: Option[String] = None): Unit = {
    import graft.operators.Dedup
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    clearLedger(spark, tableName) // fresh incarnation, fresh replay ledger
    clearBatchOutputs(spark, tableName) // and fresh per-batch output snapshots
    clearStreamOwner(spark, tableName) // and no standing stream owner
    // unicodeForm is version-pinned layout metadata like shingleN — every
    // probe and append against this index must pass the same form
    Dedup.minHashSignatures(docs, idCol, textCol, shingleN, numHashes, unicodeForm)
      .repartition(buckets, col("id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${tableName}_sigs")
    // derive the band table from the SAVED sigs so the two artifacts can
    // never disagree (one text pass total; the band pass is array reads)
    Dedup.bandedSignatures(spark.table(s"${tableName}_sigs"),
        bands, numHashes / bands)
      .repartition(buckets, col("bucket"))
      .write.mode("overwrite")
      .bucketBy(buckets, "bucket").sortBy("bucket")
      .format("parquet").saveAsTable(s"${tableName}_bands")
  }

  /** Append a batch's signatures to an existing [[minhashBandIndex]] —
    * the index-maintenance half of the incremental dedup loop: once a
    * batch has been deduped against the index, folding it IN makes later
    * batches dedup against it too (see
    * graft.streaming.StreamOps.dedupStreamAgainstIndex). Appending to a
    * bucketed table keeps the bucket spec (Spark validates it against
    * the catalog) and adds up to `buckets` files per append; the join
    * stays shuffle-free on the corpus side — only the within-bucket
    * sort-merge sort returns once buckets hold >1 file. Compact
    * periodically (re-write via [[minhashBandIndex]]) like any
    * LSM-flavored index. Parameters must match the layout's, as always. */
  def minhashIndexAppend(spark: SparkSession, batch: DataFrame,
                         idCol: String, textCol: String,
                         shingleN: Int = 2, numHashes: Int = 32, bands: Int = 8,
                         buckets: Int = 8, tableName: String = "minhash_index",
                         batchTag: Option[String] = None,
                         unicodeForm: Option[String] = None): Unit = {
    import graft.operators.Dedup
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    // batchTag: replay-idempotency ledger (one tag guards BOTH tables —
    // they fold together). The residual marker window costs duplicate
    // rows only: the probe dedups sig rows per id and distincts pairs,
    // so a replayed fold never changes answers.
    idempotently(spark, tableName, batchTag)(Storage.scoped { st =>
      // one text pass feeds both appends; released when they are done
      val sigs = st.materialize(Dedup.minHashSignatures(batch, idCol,
        textCol, shingleN, numHashes, unicodeForm))
      sigs.repartition(buckets, col("id"))
        .write.mode("append")
        .bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(s"${tableName}_sigs")
      Dedup.bandedSignatures(sigs, bands, numHashes / bands)
        .repartition(buckets, col("bucket"))
        .write.mode("append")
        .bucketBy(buckets, "bucket").sortBy("bucket")
        .format("parquet").saveAsTable(s"${tableName}_bands")
      // a reader that already resolved these tables holds a cached relation
      // with the PRE-append file listing (the streaming loop probes and
      // appends in alternation, so this is the common case, not the edge)
      spark.catalog.refreshTable(s"${tableName}_sigs")
      spark.catalog.refreshTable(s"${tableName}_bands")
    })
  }

  /** Re-attach a [[minhashBandIndex]] written by an EARLIER session — the
    * reuse-across-days story made concrete for a metastore-less
    * deployment: the in-memory session catalog loses table registrations
    * at session end, but the bucketed FILES are self-describing (bucket
    * ids ride in the part-file names), so CREATE TABLE with the identical
    * bucket spec over the same location restores in-place bucketed reads
    * — LayoutSpec proves a fresh registration probes shuffle-free with
    * results identical to the writing session. With a real metastore the
    * registration is automatic; the bucket spec and minhash parameters
    * remain version-pinned metadata either way. `idType` must match the
    * id column the index was built from. */
  def registerMinhashIndex(spark: SparkSession,
                           sigsLocation: String, bandsLocation: String,
                           buckets: Int, tableName: String = "minhash_index",
                           idType: String = "BIGINT"): Unit = {
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${tableName}_sigs (id $idType, sig ARRAY<BIGINT>)
         |USING parquet
         |CLUSTERED BY (id) SORTED BY (id) INTO $buckets BUCKETS
         |LOCATION '$sigsLocation'""".stripMargin)
    spark.sql(
      s"""CREATE TABLE IF NOT EXISTS ${tableName}_bands (id $idType, bucket BIGINT)
         |USING parquet
         |CLUSTERED BY (bucket) SORTED BY (bucket) INTO $buckets BUCKETS
         |LOCATION '$bandsLocation'""".stripMargin)
  }

  /** Compact a [[minhashBandIndex]] after a run of appends: every
    * [[minhashIndexAppend]] adds up to `buckets` files per table, and
    * multi-file buckets cost the probe join a per-bucket sort, so the
    * index is LSM-flavored — append cheaply, compact periodically. The
    * rebuild sources the STORED signatures (band keys are array reads —
    * the corpus text is never touched again) and writes fresh single-file
    * buckets; `buckets` may differ from the original, which is how the
    * index re-buckets as the corpus grows. Copy-then-swap (write `_new`
    * tables, then the [[swapInNew]] two-rename swap) because Spark refuses
    * to overwrite a table it is reading, and the two-rename order keeps
    * the data reachable under some name at every step of the swap. */
  def minhashIndexCompact(spark: SparkSession, bands: Int, buckets: Int,
                          tableName: String = "minhash_index"): Unit = {
    import graft.operators.Dedup
    val sigs = spark.table(s"${tableName}_sigs")
    val numHashes = sigs.select(org.apache.spark.sql.functions.size(col("sig")))
      .head().getInt(0)
    require(numHashes % bands == 0, s"bands=$bands must divide numHashes=$numHashes")
    Seq("_sigs_new", "_bands_new").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $tableName$sfx"))
    sigs.repartition(buckets, col("id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${tableName}_sigs_new")
    Dedup.bandedSignatures(spark.table(s"${tableName}_sigs_new"),
        bands, numHashes / bands)
      .repartition(buckets, col("bucket"))
      .write.mode("overwrite")
      .bucketBy(buckets, "bucket").sortBy("bucket")
      .format("parquet").saveAsTable(s"${tableName}_bands_new")
    Seq("_sigs", "_bands").foreach(sfx => swapInNew(spark, s"$tableName$sfx"))
  }

  /** Swap `<table>_new` into place via TWO renames (old → `_old`, new →
    * current, drop `_old`) instead of DROP-then-RENAME: a failure between
    * a drop and the rename would leave NO current table — every
    * subsequent probe/append breaks until a manual rebuild. With the
    * two-rename swap the data always exists under SOME name: a crash
    * before the second rename leaves `<table>_old` (+`<table>_new`) on
    * disk, and recovery is `ALTER TABLE <table>_new RENAME TO <table>`
    * (the compacted data is complete once `_new` finished writing). Any
    * stale `_old` from a previous interrupted swap is cleared first. */
  private def swapInNew(spark: SparkSession, table: String): Unit = {
    // dropTable, not DROP TABLE IF EXISTS: a stale `_old` DIRECTORY from a
    // crashed previous session may exist without a catalog entry, and the
    // rename below would refuse to move onto it
    dropTable(spark, s"${table}_old")
    spark.sql(s"ALTER TABLE $table RENAME TO ${table}_old")
    spark.sql(s"ALTER TABLE ${table}_new RENAME TO $table")
    spark.sql(s"DROP TABLE ${table}_old")
  }

  /** Exact-dedup fingerprint index: one bucketed table `<name>_fps` of
    * `(fp, id)` — md5 of each document's normalized body
    * (graft.operators.Dedup.fingerprints). The cheapest standing-index
    * tier: 16 bytes + id per document (~10⁻⁴ of corpus bytes at 100 TB),
    * and a batch probe (Dedup.exactDupsAgainstIndex) joins inside the
    * fp buckets with zero corpus shuffle — the same contract as the
    * MinHash band index, minus the signatures. */
  def fingerprintIndex(spark: SparkSession, docs: DataFrame,
                       idCol: String, textCol: String,
                       buckets: Int = 8,
                       tableName: String = "fp_index",
                       unicodeForm: Option[String] = None): Unit = {
    clearLedger(spark, s"${tableName}_fps") // fresh incarnation
    // unicodeForm is version-pinned layout metadata — probes/appends
    // against this index must pass the same form
    graft.operators.Dedup.fingerprints(docs, idCol, textCol, unicodeForm)
      .repartition(buckets, col("fp"))
      .write.mode("overwrite")
      .bucketBy(buckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(s"${tableName}_fps")
  }

  /** Append a batch's fingerprints to a [[fingerprintIndex]] — the LSM
    * write of the exact tier; same bucket-spec preservation, compaction
    * story and replay ledger as [[minhashIndexAppend]] (the marker
    * window duplicates (fp, id) rows, which duplicate probe pairs — a
    * replay-exposed caller should dedup pairs or dedup the table at
    * compact). */
  def fingerprintIndexAppend(spark: SparkSession, batch: DataFrame,
                             idCol: String, textCol: String,
                             buckets: Int = 8,
                             tableName: String = "fp_index",
                             batchTag: Option[String] = None,
                             unicodeForm: Option[String] = None): Unit =
    idempotently(spark, s"${tableName}_fps", batchTag) {
      graft.operators.Dedup.fingerprints(batch, idCol, textCol, unicodeForm)
        .repartition(buckets, col("fp"))
        .write.mode("append")
        .bucketBy(buckets, "fp").sortBy("fp")
        .format("parquet").saveAsTable(s"${tableName}_fps")
      spark.catalog.refreshTable(s"${tableName}_fps")
    }

  /** Standing winnow-fingerprint index — the overlap-detection sibling
    * of [[fingerprintIndex]]: one bucketed table `<name>_wfps` of
    * (id, fp) rows — each document's DISTINCT winnowed fingerprint set
    * ([[graft.operators.Winnow.fingerprintSets]]), ~2/(w+1) of corpus
    * grams × (16 B + id). A batch's incremental overlap detection
    * ([[graft.operators.Winnow.overlapPairsAgainst]]) joins its
    * fingerprints against this table: bucketed on `fp`, the corpus side
    * is read in place and only the batch shuffles (LayoutSpec
    * plan-asserts no corpus-side exchange).
    *
    * `maxDf` (None = keep all) drops fingerprints present in more than
    * maxDf documents AT BUILD TIME — the boilerplate gate belongs to the
    * index, not the probe (a probe-side census would re-aggregate the
    * whole index per batch). k/w/maxDf are version-pinned layout
    * metadata: probes must pass the same k/w.
    *
    * Default-policy note (round-11, ADVICE r10): this default is
    * DELIBERATELY uncapped while the ad-hoc operator's
    * ([[graft.operators.Winnow.overlapPairs]]) default became the
    * auto-derived cap — the index feeds the streaming containment
    * stage, where a dropped fingerprint is a missed rejection (recall
    * matters more than pair-join cost, which the probe bounds batch-
    * side), and boilerplate accrual is re-gated at
    * [[winnowIndexCompact]]. Pass an explicit cap — or
    * `Some(Winnow.AutoMaxDf)` for the operator's derived-cap policy —
    * to align with the ad-hoc default. */
  def winnowIndex(spark: SparkSession, docs: DataFrame,
                  idCol: String, textCol: String, k: Int, w: Int,
                  buckets: Int = 8, maxDf: Option[Long] = None,
                  tableName: String = "winnow_index",
                  unicodeForm: Option[String] = None): Unit = {
    clearLedger(spark, s"${tableName}_wfps") // fresh incarnation
    clearStreamOwner(spark, s"${tableName}_wfps") // and no standing owner
    // unicodeForm joins k/w as version-pinned layout metadata; the
    // auto-cap route's corpus-scale blocks are released after the write
    // (or when it fails)
    Storage.scoped(st => dfCapped(st,
      graft.operators.Winnow.fingerprintSets(docs, idCol, textCol, k, w,
        unicodeForm)
        .toDF("id", "fp"), maxDf)
      .repartition(buckets, col("fp"))
      .write.mode("overwrite")
      .bucketBy(buckets, "fp").sortBy("fp")
      .format("parquet").saveAsTable(s"${tableName}_wfps"))
  }

  /** Drop fingerprints whose document frequency exceeds the cap — the
    * boilerplate gate shared by [[winnowIndex]] build and compact. The
    * census side gets FRESH column names (the self-derived-aggregate
    * join trap), and its join is pinned sort-merge: the census is a
    * derived aggregate with the exact misestimated-broadcast hazard
    * the operator routes around (BROADCASTS.md), and an index build is
    * a one-time job where a tiny extra exchange on small corpora is
    * the right price for never gambling the driver.
    *
    * `Some(graft.operators.Winnow.AutoMaxDf)` selects the OPERATOR'S
    * auto policy (round-11: previously this sentinel would have been
    * used as the literal cap −1 and silently built an EMPTY index):
    * cap = max(floor 64, exact 0.999 df quantile), derived with the
    * shared [[graft.operators.Winnow.autoCapFromCensus]] fold. The auto
    * branch mirrors the operator's reuse discipline (round-12, ADVICE
    * r11: unpersisted, the census subtree ran twice and the
    * fingerprinting subtree three times on every auto-capped build) —
    * fps and census are eagerly materialized ONCE in the caller's scope
    * (winnow family default `disk`), released after the index write. */
  private def dfCapped(st: Storage.Scope, fps0: DataFrame,
                       maxDf: Option[Long]): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, count, lit}
    maxDf match {
      case None => fps0
      case Some(graft.operators.Winnow.AutoMaxDf) =>
        val fps = st.materialize(fps0, "disk")
        val census = st.materialize(
          fps.groupBy(col("fp")).agg(count(lit(1)).as("df")), "disk")
        val cap = graft.operators.Winnow.autoCapFromCensus(
          census, quantile = 0.999, floor = 64L)
        val dfs = census.crossJoin(broadcast(cap))
          .filter(col("df") <= col("__cap"))
          .select(col("fp").as("fp_c"))
        fps.join(dfs.hint("merge"), col("fp") === col("fp_c"))
          .select(col("id"), col("fp"))
      case Some(cap) =>
        require(cap >= 1, s"winnow index maxDf must be >= 1 or " +
          s"Some(Winnow.AutoMaxDf), got $cap")
        val dfs = fps0.groupBy(col("fp")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= cap)
          .select(col("fp").as("fp_c"))
        fps0.join(dfs.hint("merge"), col("fp") === col("fp_c"))
          .select(col("id"), col("fp"))
    }
  }

  /** Append a batch's fingerprint sets to a [[winnowIndex]] — the LSM
    * write; fold in only ACCEPTED documents (the admitted-only
    * discipline). No df cap on append (a cap needs the global census);
    * boilerplate admitted between compactions is re-gated at
    * [[winnowIndexCompact]]. Same self-referential-read checkpoint and
    * refresh as [[paragraphKeyIndexAppend]]. */
  def winnowIndexAppend(spark: SparkSession, batch: DataFrame,
                        idCol: String, textCol: String, k: Int, w: Int,
                        buckets: Int = 8,
                        tableName: String = "winnow_index",
                        batchTag: Option[String] = None,
                        unicodeForm: Option[String] = None): Unit =
    // batchTag: replay ledger; the marker window costs duplicate (id, fp)
    // rows only — the probe dedups the corpus side per (id, fp)
    // bucket-locally, so answers never change
    idempotently(spark, s"${tableName}_wfps", batchTag) {
      Storage.scoped(st => st.materialize(
          graft.operators.Winnow.fingerprintSets(batch, idCol, textCol, k, w,
            unicodeForm).toDF("id", "fp"))
        .repartition(buckets, col("fp"))
        .write.mode("append")
        .bucketBy(buckets, "fp").sortBy("fp")
        .format("parquet").saveAsTable(s"${tableName}_wfps"))
      spark.catalog.refreshTable(s"${tableName}_wfps")
    }

  /** Compact a [[winnowIndex]]: re-apply the df cap over the grown index
    * (boilerplate that accrued through appends is dropped), rewrite
    * single-file buckets, swap in crash-safely ([[swapInNew]]).
    * Documents whose every fingerprint is boilerplate leave the index —
    * by the cap's own argument they were undetectable anyway. */
  def winnowIndexCompact(spark: SparkSession, buckets: Int,
                         maxDf: Option[Long] = None,
                         tableName: String = "winnow_index"): Unit = {
    dropTable(spark, s"${tableName}_wfps_new")
    Storage.scoped(st =>
      dfCapped(st, spark.table(s"${tableName}_wfps"), maxDf)
        .repartition(buckets, col("fp"))
        .write.mode("overwrite")
        .bucketBy(buckets, "fp").sortBy("fp")
        .format("parquet").saveAsTable(s"${tableName}_wfps_new"))
    swapInNew(spark, s"${tableName}_wfps")
  }

  /** Standing PARAGRAPH-key index — the sub-document sibling of
    * [[fingerprintIndex]]: one bucketed table of distinct 16-byte md5
    * paragraph identities ([[graft.operators.Dedup.paragraphKeys]]),
    * ~16 bytes per distinct paragraph ever accepted. A batch's
    * incremental paragraph dedup
    * ([[graft.operators.Dedup.dedupParagraphsAgainst]]) anti-joins its
    * paragraphs against this table: bucketed on `pkey`, the corpus side
    * is read in place and only the batch shuffles. */
  def paragraphKeyIndex(spark: SparkSession, docs: DataFrame,
                        textCol: String, sep: String = "\n\n",
                        buckets: Int = 8,
                        tableName: String = "para_index",
                        unicodeForm: Option[String] = None): Unit = {
    clearLedger(spark, s"${tableName}_pkeys") // fresh incarnation
    clearStreamOwner(spark, s"${tableName}_pkeys") // and no standing owner
    // unicodeForm joins sep as version-pinned layout metadata
    graft.operators.Dedup.paragraphKeys(docs, textCol, sep, unicodeForm)
      .repartition(buckets, col("pkey"))
      .write.mode("overwrite")
      .bucketBy(buckets, "pkey").sortBy("pkey")
      .format("parquet").saveAsTable(s"${tableName}_pkeys")
  }

  /** Append a batch's KEPT paragraph keys to a [[paragraphKeyIndex]] —
    * the LSM write; fold in only what the curation accepted so a later
    * copy of a rejected paragraph is correctly not a duplicate. The
    * append may re-add keys already present (dedup is an anti-join —
    * duplicates in the key table cost bytes, not correctness); compact
    * by rebuilding via [[paragraphKeyIndex]] over the accepted corpus.
    *
    * The derived key frame is eagerly checkpointed BEFORE the write: a
    * caller's `batch` is often a lazy plan that itself reads the
    * `_pkeys` table (dedupParagraphsAgainst over `spark.table`), and a
    * self-referential append would re-evaluate that plan against the
    * GROWN key set mid-write — silently dropping the batch's own
    * just-admitted paragraphs (the same hazard minhashIndexAppend's
    * callers guard with localCheckpoint). The refresh afterwards clears
    * any reader-cached pre-append file listing. */
  def paragraphKeyIndexAppend(spark: SparkSession, batch: DataFrame,
                              textCol: String, sep: String = "\n\n",
                              buckets: Int = 8,
                              tableName: String = "para_index",
                              batchTag: Option[String] = None,
                              unicodeForm: Option[String] = None): Unit =
    // batchTag: replay ledger; the marker window costs duplicate keys
    // only — the probe is an anti-join, so answers never change
    idempotently(spark, s"${tableName}_pkeys", batchTag) {
      Storage.scoped(st => st.materialize(
          graft.operators.Dedup.paragraphKeys(batch, textCol, sep, unicodeForm))
        .repartition(buckets, col("pkey"))
        .write.mode("append")
        .bucketBy(buckets, "pkey").sortBy("pkey")
        .format("parquet").saveAsTable(s"${tableName}_pkeys"))
      spark.catalog.refreshTable(s"${tableName}_pkeys")
    }

  /** Standing GRAM census — the span-removal sibling of
    * [[paragraphKeyIndex]]: one bucketed table of (g, c) rows — the
    * 16-byte md5 of every distinct length-`gramLen` character window of
    * the accepted corpus and its occurrence count
    * ([[graft.operators.Dedup.gramCensus]]). Unlike the per-document
    * fingerprint tiers this is O(corpus bytes) (~24 B per distinct
    * gram) — the inherent price of exact substring semantics; it
    * replaces re-scanning the WHOLE corpus text per batch with an
    * in-place bucketed read of the census. A batch's incremental span
    * removal ([[graft.operators.Dedup.removeRepeatedSpansAgainst]])
    * joins its per-gram counts against this table: bucketed on `g`,
    * the corpus side is read in place and only the batch shuffles.
    * `gramLen` is version-pinned layout metadata (probes must pass the
    * same value), like every index's parameters. */
  def spanGramCensus(spark: SparkSession, docs: DataFrame,
                     textCol: String, gramLen: Int,
                     buckets: Int = 8,
                     tableName: String = "span_index",
                     unicodeForm: Option[String] = None): Unit =
    // unicodeForm joins gramLen as version-pinned layout metadata
    graft.operators.Dedup.gramCensus(docs, textCol, gramLen, unicodeForm)
      .withColumn("src", org.apache.spark.sql.functions.lit("base"))
      .repartition(buckets, col("g"))
      .write.mode("overwrite")
      .bucketBy(buckets, "g").sortBy("g")
      .format("parquet").saveAsTable(s"${tableName}_grams")

  /** Append a batch's gram counts to a [[spanGramCensus]] — the LSM
    * write; fold in the batch's ACCEPTED (cleaned) text so later
    * batches count this one's grams too. Appends add one (g, c, src)
    * row per batch-distinct gram; probes fold multi-row keys with a
    * bucket-local TWO-LEVEL aggregation (max per (g, src), then sum —
    * Dedup.removeRepeatedSpansAgainst), and compaction bakes that fold
    * ([[spanGramCensusCompact]]).
    *
    * `srcTag` must uniquely identify the batch (the streaming loop
    * passes `b<batchId>`): a foreachBatch REPLAY re-appends the same
    * (g, c, src) rows and the probe's max-per-(g, src) collapses them —
    * counts can never double, standing singletons never turn into
    * duplicates, so replays are EXACTLY answer-idempotent with no
    * marker race at all (duplicates cost bytes until compact). Two
    * DIFFERENT batches must never share a tag — their counts would
    * collapse instead of summing. Compaction folds all sources into
    * `base`, so compact only batches past the replay horizon (a replay
    * of a compacted batch would re-add its counts under its tag).
    * Eagerly checkpointed before the write — the batch frame is
    * typically the OUTPUT of
    * `removeRepeatedSpansAgainst(spark.table(...))`, i.e. a lazy plan
    * reading the very table being appended to (the
    * [[paragraphKeyIndexAppend]] self-reference hazard). */
  def spanGramCensusAppend(spark: SparkSession, batch: DataFrame,
                           textCol: String, gramLen: Int,
                           srcTag: String,
                           buckets: Int = 8,
                           tableName: String = "span_index",
                           unicodeForm: Option[String] = None): Unit = {
    Storage.scoped(st => st.materialize(
        graft.operators.Dedup.gramCensus(batch, textCol, gramLen, unicodeForm)
          .withColumn("src", org.apache.spark.sql.functions.lit(srcTag)))
      .repartition(buckets, col("g"))
      .write.mode("append")
      .bucketBy(buckets, "g").sortBy("g")
      .format("parquet").saveAsTable(s"${tableName}_grams"))
    spark.catalog.refreshTable(s"${tableName}_grams")
  }

  /** Compact a [[spanGramCensus]] after a run of appends: fold the
    * multi-row keys the LSM appends leave behind (`sum(c)` per gram —
    * the exact aggregation every probe would otherwise redo per batch)
    * and rewrite single-file buckets. Same crash-safe two-rename swap as
    * [[minhashIndexCompact]] (see [[swapInNew]]); `buckets` may grow with
    * the corpus. */
  def spanGramCensusCompact(spark: SparkSession, buckets: Int,
                            tableName: String = "span_index"): Unit = {
    import org.apache.spark.sql.functions.{lit, max, sum}
    dropTable(spark, s"${tableName}_grams_new")
    spark.table(s"${tableName}_grams")
      // the probe's own two-level fold: dedup replayed source rows per
      // (g, src), THEN sum across sources — compaction bakes exactly the
      // counts every probe would compute
      .groupBy(col("g"), col("src")).agg(max(col("c")).as("c"))
      .groupBy(col("g")).agg(sum(col("c")).as("c"))
      .withColumn("src", lit("base"))
      .repartition(buckets, col("g"))
      .write.mode("overwrite")
      .bucketBy(buckets, "g").sortBy("g")
      .format("parquet").saveAsTable(s"${tableName}_grams_new")
    swapInNew(spark, s"${tableName}_grams")
  }

  def ivfPartition(spark: SparkSession, dataDir: String,
                   centroids: Seq[Seq[Double]],
                   tableName: String = "embeddings_ivf"): Unit =
    ivfPartitionOf(spark, Tables(spark, dataDir, "embeddings"), "embedding",
      centroids, tableName)

  /** [[ivfPartition]] over an arbitrary embedding frame (any subset or
    * pre-filtered corpus — e.g. the accepted history side of an
    * incremental split); all data columns of `df` ride into the layout. */
  def ivfPartitionOf(spark: SparkSession, df: DataFrame, embCol: String,
                     centroids: Seq[Seq[Double]],
                     tableName: String = "embeddings_ivf"): Unit =
    df.withColumn("cell",
        element_at(graft.functions.ivfAssign(col(embCol), centroids, 1), 1))
      // cluster by the partition column before writing: without this every
      // input task writes a file into every cell directory (tasks × k
      // small files — a metadata bomb at k in the hundreds); hashed on
      // cell, each directory receives files only from the tasks owning
      // that cell, so file count ~ k instead of tasks × k
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell")
      .format("parquet").saveAsTable(tableName)

  /** Append a batch of embeddings to an [[ivfPartition]] layout — the
    * embedding analog of [[minhashIndexAppend]]: assign each batch vector
    * to its top-1 cell with the LAYOUT'S OWN centroid matrix (the
    * version-pinned metadata — a re-trained matrix would scatter old and
    * new rows across incompatible cells), cluster, append into the cell
    * directories. Batch schema must match the layout's data columns.
    * Cell geometry degrades as the corpus outgrows k (cells fatten,
    * probes scan more); re-partition with a re-trained, larger-k matrix
    * when cell sizes drift — the same rebuild-vs-append trade as
    * [[minhashIndexCompact]]. */
  def ivfPartitionAppend(spark: SparkSession, batch: DataFrame,
                         embCol: String, centroids: Seq[Seq[Double]],
                         tableName: String = "embeddings_ivf"): Unit = {
    batch.withColumn("cell",
        element_at(graft.functions.ivfAssign(col(embCol), centroids, 1), 1))
      .repartition(col("cell"))
      .write.mode("append").partitionBy("cell")
      .format("parquet").saveAsTable(tableName)
    // readers holding the pre-append file listing (see minhashIndexAppend)
    spark.catalog.refreshTable(tableName)
  }

  // ===== incremental connected components (standing component map) =====
  //
  // The batch operator (graft.operators.Dedup.connectedComponents)
  // recomputes the labeling from the FULL edge list — correct for a one-shot
  // job, wrong shape for the streaming loop, whose per-batch near-dup pairs
  // would force an ever-growing full-history CC per micro-batch. The
  // standing layout is the classic union-find split into two tables:
  //
  //   <name>_croots   (id, root)      — one row per id ever seen in a real
  //                                     edge; root = the component's min id
  //                                     AS OF the fold that first saw the
  //                                     id (possibly stale after later
  //                                     merges — never rewritten on merge);
  //   <name>_cparents (child, parent) — the merge log: appended when a fold
  //                                     merges a standing root under a
  //                                     smaller one (parent < child always,
  //                                     so chains strictly descend and the
  //                                     chase below terminates).
  //
  // Resolution follows parent chains to the current min; compaction
  // flattens chains back to depth 0. Per-batch cost ∝ batch edges ×
  // chain-chase rounds — the corpus-sized _croots is probed with a bucketed
  // join (batch side shuffles, map read in place) and NEVER rewritten, so
  // a 100 TB corpus's map (two longs per doc, ~10⁻⁵ of corpus bytes) folds
  // a batch in batch-proportional work. Min-label union is a semilattice
  // (labels only ever decrease, min is idempotent/commutative), which is
  // what makes the two ledger-guarded appends duplicate-absorbing and
  // either-order crash-replayable — see [[componentsIndexAppend]].

  /** Build a standing component map from an initial edge list (either
    * orientation, dups fine, self-loops ignored — the
    * [[graft.operators.Dedup.connectedComponents]] contract; ids of
    * isolated documents are NOT stored, exactly like the batch operator:
    * readers coalesce missing ids to themselves). `buckets` is
    * version-pinned layout metadata — appends must pass the same value. */
  def componentsIndex(spark: SparkSession, edges: DataFrame,
                      srcCol: String, dstCol: String,
                      buckets: Int = 8,
                      tableName: String = "cmp_index"): Unit = {
    Seq("_croots", "_cparents").foreach { sfx =>
      clearLedger(spark, s"$tableName$sfx") // fresh incarnation
      dropTable(spark, s"$tableName$sfx")
      clearStreamOwner(spark, s"$tableName$sfx") // rebuild w/o drop (ADVICE r12)
    }
    val comps = graft.operators.Dedup.connectedComponents(
      edges, srcCol, dstCol)
    comps.select(col("id"), col("component").as("root"))
      .repartition(buckets, col("id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${tableName}_croots")
    // empty merge log in the id type (comps' plan is the already-
    // materialized converged labeling, so limit(0) costs nothing)
    comps.limit(0)
      .select(col("id").as("child"), col("component").as("parent"))
      .write.mode("overwrite")
      .format("parquet").saveAsTable(s"${tableName}_cparents")
  }

  /** Chase (key, lbl) rows through the `parents` merge log to their final
    * labels: replace lbl by its parent until no row's lbl has one. Chains
    * strictly descend (parent < child), so depth ≤ longest un-compacted
    * merge chain. ONE join per round (ADVICE r12 low): the left join both
    * advances the frame and, via a `_hit` flag counted off the
    * checkpointed blocks, decides convergence — no separate inner-join
    * job, half the per-round shuffle. The
    * merge log itself is checkpointed once up front so its groupBy isn't
    * re-planned and re-read every round. */
  private def chaseParents(st: Storage.Scope, cur0: DataFrame,
                           parents0: DataFrame,
                           maxIter: Int = 50): DataFrame = {
    import org.apache.spark.sql.functions.coalesce
    // per-round blocks in the caller's scope, on the engine storage tier
    // (CC family default `disk`): a non-convergence throw releases them
    val parents = st.materialize(parents0, "disk")
    var cur = st.materialize(cur0, "disk")
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val next = st.materialize(
        cur.join(parents, cur("lbl") === parents("child"), "left")
          .select(cur("key"),
            coalesce(col("parent"), col("lbl")).as("lbl"),
            col("parent").isNotNull.as("_hit")), "disk")
      val hits = next.filter(col("_hit")).count() // scan of local blocks
      // release superseded rounds deterministically — the per-batch
      // fold path must not leave blocks for ContextCleaner-on-GC to
      // find (they crowd the block store of whatever runs next)
      st.release(cur)
      cur = next
      if (hits == 0) converged = true
      iter += 1
    }
    require(converged, s"component parent chase did not converge in " +
      s"$maxIter rounds — compact the index (componentsIndexCompact)")
    st.release(parents)
    // callers select (key, lbl) and ignore `_hit`
    cur
  }

  /** Deduplicated merge log as (child, parent). Min-per-child: replay
    * residue can duplicate a row, and the crash-window recompute (see
    * [[componentsIndexAppend]]) can land a child both its direct final
    * parent and an intermediate one — min is always the further merge,
    * and chasing from it reaches the same fixpoint. */
  private def parentLog(spark: SparkSession, tableName: String): DataFrame =
    spark.table(s"${tableName}_cparents")
      .groupBy(col("child"))
      .agg(org.apache.spark.sql.functions.min(col("parent")).as("parent"))

  /** Fold one batch of edges into a standing [[componentsIndex]] — the
    * incremental union-find step, in batch-proportional work:
    *
    *  1. probe `_croots` with the batch's node set (bucketed join — the
    *     corpus-scale map is read in place, only the batch shuffles) and
    *     chase the hit roots through the merge log to CURRENT roots;
    *  2. translate batch edge endpoints to those roots (unknown ids stay
    *     themselves); edges that collapse inside one standing component
    *     vanish;
    *  3. run [[graft.operators.Dedup.connectedComponents]] on the
    *     translated edge set — batch-sized: its nodes are batch ids and
    *     the standing roots the batch touches;
    *  4. append (root → smaller new label) rows to the merge log for every
    *     standing root the batch merged, and (id → label) rows to the map
    *     for every NEW id.
    *
    * Replay safety (`batchTag`, the [[minhashIndexAppend]] ledger): labels
    * only ever DECREASE and the union is min-idempotent, so the two
    * appends are duplicate-absorbing and crash-replayable in either order
    * — a crash between them replays the fold against the half-applied
    * state and recomputes exactly the missing half (the applied half is
    * skipped by its marker; [[parentLog]]/root reads aggregate with min,
    * absorbing the residual ledger window's duplicates). */
  def componentsIndexAppend(spark: SparkSession, edges: DataFrame,
                            srcCol: String, dstCol: String,
                            buckets: Int = 8,
                            tableName: String = "cmp_index",
                            batchTag: Option[String] = None): Unit =
    Storage.scoped { st =>
    import org.apache.spark.sql.functions.{coalesce, min}
    // chaseParents throws the RECOVERABLE "compact the index" error
    // while `fwd` (and later frames) hold checkpointed blocks — the
    // scope releases them, so a user who compacts and retries does not
    // accumulate a leaked batch-scale frame per failed attempt
    def mat(df: DataFrame): DataFrame = st.materialize(df, "disk")
    val fwd = mat(
      edges.select(col(srcCol).as("u"), col(dstCol).as("v"))
        .filter(col("u") =!= col("v"))
        .distinct())
    val nodes = fwd.select(col("u"))
      .union(fwd.select(col("v").as("u")))
      .distinct()
    val croots = spark.table(s"${tableName}_croots")
    // min-agg absorbs duplicate (id, root) rows from the ledger window
    val known = nodes.join(croots, nodes("u") === croots("id"))
      .groupBy(col("u").as("key")).agg(min(col("root")).as("lbl"))
    // chaseParents already returns a checkpointed frame — reused thrice
    // (two translations + merge detect) off that one materialization
    val resolved = chaseParents(st, known, parentLog(spark, tableName))
    val ra = resolved.select(col("key").as("ku"), col("lbl").as("ru"))
    val rb = resolved.select(col("key").as("kv"), col("lbl").as("rv"))
    val translated = fwd
      .join(ra, col("u") === col("ku"), "left")
      .join(rb, col("v") === col("kv"), "left")
      .select(coalesce(col("ru"), col("u")).as("tu"),
        coalesce(col("rv"), col("v")).as("tv"))
      .filter(col("tu") =!= col("tv"))
    val comps = mat(
      graft.operators.Dedup.connectedComponents(
        translated, "tu", "tv")) // reused twice: merge rows + new-id rows
    // 4a. merge log: standing roots relabeled smaller by this batch
    val mergedRoots = comps
      .join(resolved.select(col("lbl").as("id")).distinct(), "id")
      .filter(col("component") < col("id"))
      .select(col("id").as("child"), col("component").as("parent"))
    idempotently(spark, s"${tableName}_cparents", batchTag) {
      mergedRoots.write.mode("append")
        .format("parquet").saveAsTable(s"${tableName}_cparents")
      spark.catalog.refreshTable(s"${tableName}_cparents")
    }
    // 4b. map rows for ids the index has never seen (their translated
    // label is themselves, so comps carries their final assignment);
    // eager checkpoint before the write — the plan anti-joins the very
    // table it appends to (the paragraphKeyIndexAppend self-read rule).
    // LEFT join + coalesce, not inner (ADVICE r12 high): on a crash
    // replay where the _cparents append landed but the _croots one did
    // not, a new id that became its component's new min resolves the
    // standing roots to ITSELF through the just-applied merge rows, its
    // edges collapse to self-edges, and it vanishes from comps — but an
    // id absent from comps can only be absent because everything it
    // touches already resolves to it, i.e. it IS its component's root,
    // so self-labeling is exact.
    idempotently(spark, s"${tableName}_croots", batchTag) {
      val newRoots = mat(nodes
        .join(croots, nodes("u") === croots("id"), "left_anti")
        .join(comps, col("u") === comps("id"), "left")
        .select(col("u").as("id"),
          coalesce(col("component"), col("u")).as("root")))
      newRoots.repartition(buckets, col("id"))
        .write.mode("append")
        .bucketBy(buckets, "id").sortBy("id")
        .format("parquet").saveAsTable(s"${tableName}_croots")
      spark.catalog.refreshTable(s"${tableName}_croots")
    }
    }

  /** Current labeling of a [[componentsIndex]]: (id, component) with
    * component the min id of the component as of all folded batches —
    * row-for-row what the batch operators return over the union of all
    * folded edge lists. Shape: the DISTINCT stored roots (component-
    * count-sized, small) chase the merge log to their final labels, then
    * ONE join back against the map keyed on `root` — a giant dup
    * component makes that key hot, which is AQE skew-join territory, not
    * a rewrite (the map side carries only ids). */
  def componentsResolve(spark: SparkSession,
                        tableName: String = "cmp_index"): DataFrame =
    Storage.scoped { st =>
    import org.apache.spark.sql.functions.min
    val croots = spark.table(s"${tableName}_croots")
      .groupBy(col("id")).agg(min(col("root")).as("root"))
    val roots = croots.select(col("root").as("key"), col("root").as("lbl"))
      .distinct()
    // the returned plan reads the chased roots' blocks (they leave the
    // scope with it)
    val finalRoots = chaseParents(st, roots, parentLog(spark, tableName))
      .select(col("key").as("r0"), col("lbl").as("component"))
    croots.join(finalRoots, col("root") === col("r0"))
      .select(col("id"), col("component"))
  }

  /** Flatten a [[componentsIndex]]: rewrite `_croots` with fully-resolved
    * roots and truncate the merge log — chain depth back to 0, probe cost
    * back to one join. Same two-rename swap discipline as
    * [[minhashIndexCompact]]; ledger markers stay valid (compaction
    * changes representation, not folded content). */
  def componentsIndexCompact(spark: SparkSession, buckets: Int = 8,
                             tableName: String = "cmp_index"): Unit = {
    Seq("_croots_new", "_cparents_new").foreach(sfx =>
      spark.sql(s"DROP TABLE IF EXISTS $tableName$sfx"))
    componentsResolve(spark, tableName)
      .select(col("id"), col("component").as("root"))
      .repartition(buckets, col("id"))
      .write.mode("overwrite")
      .bucketBy(buckets, "id").sortBy("id")
      .format("parquet").saveAsTable(s"${tableName}_croots_new")
    spark.table(s"${tableName}_cparents").limit(0)
      .write.mode("overwrite")
      .format("parquet").saveAsTable(s"${tableName}_cparents_new")
    Seq("_croots", "_cparents").foreach(sfx =>
      swapInNew(spark, s"$tableName$sfx"))
  }

  /** Drop a [[componentsIndex]] and its replay state. Owner markers are
    * registered per side table ([[graft.streaming.StreamOps]] guards
    * `_croots` AND `_cparents` independently), so both are cleared —
    * leaving either would carry a dead query's ownership across the
    * incarnation (ADVICE r12). */
  def dropComponentsIndex(spark: SparkSession,
                          tableName: String = "cmp_index"): Unit = {
    Seq("_croots", "_cparents").foreach { sfx =>
      dropTable(spark, s"$tableName$sfx")
      clearLedger(spark, s"$tableName$sfx")
      clearStreamOwner(spark, s"$tableName$sfx")
    }
  }
}
