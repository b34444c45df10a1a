package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.catalog.Layout
import graft.operators.{Curation, Dedup, Similarity, Winnow}

/** The [[Storage.scoped]] contract, and the release-on-error guarantee
  * of every family that materializes through it.
  *
  * A leak is a NEW persistent RDD id (set difference, not count: the
  * ContextCleaner may concurrently unpersist unrelated GC'd RDDs of
  * earlier tests) or a NEW CacheManager entry surviving the call. */
class StorageSpec extends SparkSpec {
  import StorageSpec._

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def frame(n: Long = 200L): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 7).as("k"))

  private def rddId(ds: DataFrame): Int =
    ds.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id

  /** Runs `body`, then asserts it left no new persistent RDD and no new
    * CacheManager entry behind. */
  private def leavesNothing(what: String)(body: => Unit): Unit = {
    val before = persisted
    val entries = cachedEntries(spark)
    body
    assert((persisted -- before).isEmpty,
      s"$what leaked checkpoint/cache blocks: ${persisted -- before}")
    assert(cachedEntries(spark) == entries, s"$what leaked a CacheManager entry")
  }

  /** `when(id == bad, raise_error)` — an input whose evaluation raises on
    * one row, wherever the family first reads the column. */
  private def raising(c: String, id: String, bad: Long, tpe: String) =
    when(col(id) === bad, raise_error(lit("injected failure")).cast(tpe))
      .otherwise(col(c))

  private def withTier(mode: String)(body: => Unit): Unit = {
    if (mode == "reliable")
      spark.sparkContext.setCheckpointDir(
        java.nio.file.Files.createTempDirectory("storage_spec").toString)
    spark.conf.set(Storage.CheckpointStorageConf, mode)
    try body finally spark.conf.unset(Storage.CheckpointStorageConf)
  }

  test("a scope releases its cached and checkpointed frames on normal exit, on every tier") {
    for (mode <- Seq("memdisk", "disk", "reliable")) withTier(mode) {
      leavesNothing(s"normal exit ($mode)") {
        val n = Storage.scoped { s =>
          val c = s.cache(frame())
          assert(c.count() == 200L)
          assert(cachedEntries(spark) >= 1)
          val m = s.materialize(c.groupBy(col("k")).count())
          // local tiers hold their blocks as a persistent RDD
          if (mode != "reliable") assert(persisted.contains(rddId(m)))
          m.count()
        }
        assert(n == 7L)
      }
    }
  }

  test("a scope releases its frames when the body throws") {
    for (mode <- Seq("memdisk", "disk", "reliable")) withTier(mode) {
      leavesNothing(s"throwing body ($mode)") {
        val e = intercept[IllegalStateException] {
          Storage.scoped { s =>
            val c = s.cache(frame())
            c.count()
            s.materialize(c.filter(col("k") === 1)).count()
            throw new IllegalStateException("body failed")
          }
        }
        assert(e.getMessage == "body failed")
      }
    }
  }

  test("a returned frame is detached: it survives the scope and can still be collected") {
    val before = persisted
    val entries = cachedEntries(spark)
    val out = Storage.scoped { s =>
      val c = s.cache(frame())
      s.materialize(c.groupBy(col("k")).agg(count(lit(1)).as("n")))
    }
    // the cached working set is gone, the returned checkpoint is not
    assert(cachedEntries(spark) == entries)
    assert((persisted -- before) == Set(rddId(out)))
    assert(out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      (0L until 7L).map(k => k -> (0L until 200L).count(_ % 7 == k).toLong).toMap)
    // a lazy result keeps the cached frame its plan reads (the caller
    // owns it — the `materialize = false` plan-audit contract)
    val lazyOut = Storage.scoped { s =>
      s.cache(frame(50L)).filter(col("k") === 0)
    }
    assert(cachedEntries(spark) == entries + 1)
    assert(lazyOut.count() == (0L until 50L).count(_ % 7 == 0).toLong)
    spark.catalog.clearCache()
  }

  test("release frees a superseded round before the scope ends") {
    leavesNothing("release") {
      Storage.scoped { s =>
        val r1 = s.materialize(frame())
        val c = s.cache(frame(70L))
        c.count()
        val r2 = s.materialize(r1.filter(col("k") > 2))
        assert(persisted.contains(rddId(r1)))
        s.release(r1)
        assert(!persisted.contains(rddId(r1)), "released round still persisted")
        assert(persisted.contains(rddId(r2)))
        val entries = cachedEntries(spark)
        s.release(c)
        assert(cachedEntries(spark) == entries - 1)
        s.release(frame()) // not held: no-op
        assert(r2.count() == (0L until 200L).count(_ % 7 > 2).toLong)
      }
    }
  }

  // -- every family releases its blocks when evaluation raises. Inputs
  // are generated from spark.range, not a local Seq: the optimizer
  // evaluates projections over a LocalRelation while PLANNING, so a
  // raising row would fail the first persist before anything is held

  private def textDocs: DataFrame =
    spark.range(1, 41).select(col("id"),
      concat(lit("common words here doc "), (col("id") % 5).cast("string"),
        lit(" shared tail "), col("id").cast("string")).as("text"))

  private def raisingText: DataFrame =
    textDocs.withColumn("text", raising("text", "id", 7L, "string"))

  private def embeddings: DataFrame =
    spark.range(1, 61).select(col("id"),
        array((1 to 8).map(j => sin(col("id") * j)): _*).as("emb"))
      .withColumn("emb", raising("emb", "id", 9L, "array<double>"))

  private def failsAndLeavesNothing(what: String)(body: => Any): Unit =
    leavesNothing(what) {
      val e = intercept[Exception](body)
      assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .exists(t => String.valueOf(t.getMessage).contains("injected failure")),
        s"$what failed for another reason: $e")
    }

  test("Similarity.lshNearDupPairs releases its working set when evaluation raises") {
    failsAndLeavesNothing("lshNearDupPairs") {
      Similarity.lshNearDupPairs(embeddings, "id", "emb", dim = 8,
        rowsPerBand = 4, bands = 4, seed = 1L, simThreshold = 0.5)
    }
  }

  test("Dedup.minHashNearDupsAgainst releases its batch signatures when evaluation raises") {
    val corpusSigs = Dedup.minHashSignatures(textDocs, "id", "text", 2, 32)
    failsAndLeavesNothing("minHashNearDupsAgainst") {
      Dedup.minHashNearDupsAgainst(raisingText, corpusSigs, "id", "text")
    }
  }

  test("Dedup.jaccardPairs releases its shingle checkpoint when evaluation raises") {
    failsAndLeavesNothing("jaccardPairs") {
      Dedup.jaccardPairs(raisingText, "id", "text", 2, 0.5)
    }
  }

  test("Winnow.overlapPairs releases its fingerprint checkpoints when evaluation raises") {
    failsAndLeavesNothing("overlapPairs") {
      Winnow.overlapPairs(raisingText, "id", "text", k = 3, w = 4, minShared = 1)
    }
  }

  test("Curation.pipeline releases its stage caches when evaluation raises") {
    failsAndLeavesNothing("pipeline") {
      Curation.pipeline(spark, raisingText.withColumn("lang", lit("en")),
        "id", "text", "lang", targetTotal = 10L, minLineDocs = 3,
        qualityFilter = Some(identity))
    }
  }

  test("Layout.componentsIndexAppend releases its round checkpoints when evaluation raises") {
    val sp = spark
    import sp.implicits._
    val t = "storage_spec_cmp"
    Layout.dropComponentsIndex(spark, t)
    Layout.componentsIndex(spark, Seq((1L, 2L), (3L, 4L)).toDF("a", "b"),
      "a", "b", buckets = 2, tableName = t)
    val bad = spark.range(2, 6).select(col("id").as("a"),
        (col("id") + 1).as("b"))
      .withColumn("b", raising("b", "a", 5L, "long"))
    try failsAndLeavesNothing("componentsIndexAppend") {
      Layout.componentsIndexAppend(spark, bad, "a", "b", buckets = 2,
        tableName = t)
    } finally Layout.dropComponentsIndex(spark, t)
  }
}

object StorageSpec {
  /** Live CacheManager entries of the session. */
  def cachedEntries(spark: org.apache.spark.sql.SparkSession): Int =
    org.apache.spark.sql.graftglue.CacheEntries(spark)
}
