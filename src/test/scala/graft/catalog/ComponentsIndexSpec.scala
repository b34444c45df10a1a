package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.Dedup

/** The standing component map ([[Layout.componentsIndex]] family) — the
  * incremental union-find the streaming loop needs where the batch
  * operator would recompute the full-history CC per micro-batch.
  *
  * The load-bearing invariant: folding ANY batching of an edge list must
  * resolve to exactly the one-shot [[Dedup.connectedComponents]]
  * labeling of the union — including across merge chains (a root merged
  * under a smaller root merged under a yet smaller one), compactions, and
  * replays.
  */
class ComponentsIndexSpec extends SparkSpec {

  private def edges(pairs: (Long, Long)*): DataFrame = {
    import spark.implicits._
    pairs.toSeq.toDF("a", "b")
  }

  private def resolveMap(table: String): Map[Long, Long] =
    Layout.componentsResolve(spark, table)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def batchMap(all: DataFrame): Map[Long, Long] =
    Dedup.connectedComponents(all, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("batched folds resolve to the one-shot labeling, across merge chains") {
    val t = "cmp_spec_chain"
    Layout.dropComponentsIndex(spark, t)
    // batch 1: three separate components rooted 10, 20, 30
    val b1 = edges((10L, 11L), (20L, 21L), (30L, 31L))
    // batch 2: merge 20s under 10s (parent row 20 -> 10)
    val b2 = edges((11L, 21L))
    // batch 3: merge the combined component AND the 30s under NEW id 5
    // (5 < every standing root: both 10 and 30 get parent 5 — the
    // parent-is-a-new-id case), chain depth 2 for the 20s (20 -> 10 -> 5)
    val b3 = edges((5L, 21L), (5L, 31L))
    Layout.componentsIndex(spark, b1, "a", "b", buckets = 2, tableName = t)
    Layout.componentsIndexAppend(spark, b2, "a", "b", buckets = 2,
      tableName = t, batchTag = Some("b2"))
    Layout.componentsIndexAppend(spark, b3, "a", "b", buckets = 2,
      tableName = t, batchTag = Some("b3"))
    val expect = batchMap(b1.union(b2).union(b3))
    assert(resolveMap(t) == expect)
    assert(expect.values.toSet == Set(5L)) // everything merged under 5
    // the merge log really carries the chain (un-compacted)
    val parents = spark.table(s"${t}_cparents")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(parents.contains(20L -> 10L), s"got $parents")
    assert(parents.contains(10L -> 5L) && parents.contains(30L -> 5L),
      s"got $parents")
    Layout.dropComponentsIndex(spark, t)
  }

  test("compaction flattens the merge log without changing the labeling") {
    val t = "cmp_spec_compact"
    Layout.dropComponentsIndex(spark, t)
    Layout.componentsIndex(spark, edges((10L, 11L), (20L, 21L)), "a", "b",
      buckets = 2, tableName = t)
    Layout.componentsIndexAppend(spark, edges((11L, 21L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("b2"))
    val before = resolveMap(t)
    Layout.componentsIndexCompact(spark, buckets = 2, tableName = t)
    assert(spark.table(s"${t}_cparents").count() == 0)
    assert(resolveMap(t) == before)
    // folds keep working against the compacted incarnation
    Layout.componentsIndexAppend(spark, edges((1L, 10L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("b3"))
    assert(resolveMap(t) == batchMap(
      edges((10L, 11L), (20L, 21L), (11L, 21L), (1L, 10L))))
    Layout.dropComponentsIndex(spark, t)
  }

  test("replay: the same batch tag folds once; an untagged re-fold is absorbed") {
    val t = "cmp_spec_replay"
    Layout.dropComponentsIndex(spark, t)
    Layout.componentsIndex(spark, edges((10L, 11L)), "a", "b",
      buckets = 2, tableName = t)
    val b2 = edges((11L, 20L))
    Layout.componentsIndexAppend(spark, b2, "a", "b", buckets = 2,
      tableName = t, batchTag = Some("b2"))
    val once = resolveMap(t)
    val rowsOnce = (spark.table(s"${t}_croots").count(),
      spark.table(s"${t}_cparents").count())
    // exact replay (ledger hit): zero new rows
    Layout.componentsIndexAppend(spark, b2, "a", "b", buckets = 2,
      tableName = t, batchTag = Some("b2"))
    assert((spark.table(s"${t}_croots").count(),
      spark.table(s"${t}_cparents").count()) == rowsOnce)
    // the residual ledger window re-applies a fold ONCE without a marker
    // skip — labels are a min-semilattice, so the duplicate is absorbed
    Layout.componentsIndexAppend(spark, b2, "a", "b", buckets = 2,
      tableName = t, batchTag = None)
    assert(resolveMap(t) == once)
    Layout.dropComponentsIndex(spark, t)
  }

  test("half-applied crash replay: new id that became the component min " +
    "still gets its map row (ADVICE r12 high)") {
    // The crash window: componentsIndexAppend applies the _cparents half
    // (merge rows + marker), crashes before the _croots half. On replay
    // the batch's known roots chase through the JUST-APPLIED merge rows —
    // a new id that became its component's min turns its own edges into
    // self-edges, vanishes from the batch CC, and an inner join would
    // silently drop its _croots row, permanently diverging resolution.
    val t = "cmp_spec_halfcrash"
    Layout.dropComponentsIndex(spark, t)
    Layout.componentsIndex(spark, edges((20L, 21L)), "a", "b",
      buckets = 2, tableName = t)
    // simulate the half-applied fold of batch (5, 20): the merge row
    // (20 -> 5) lands in _cparents and its ledger marker is set, exactly
    // as componentsIndexAppend would have left them mid-crash
    edges((20L, 5L))
      .select(col("a").as("child"), col("b").as("parent"))
      .write.mode("append").format("parquet").saveAsTable(s"${t}_cparents")
    spark.catalog.refreshTable(s"${t}_cparents")
    val marker = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${t}_cparents_applied/b2")
    marker.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(marker)
    // replay the fold: the _cparents block is marker-skipped, the _croots
    // block must self-label 5 (absent from the batch CC ⇒ it IS the root)
    Layout.componentsIndexAppend(spark, edges((5L, 20L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("b2"))
    val croots = spark.table(s"${t}_croots")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(croots.get(5L).contains(5L), s"got $croots")
    assert(resolveMap(t) == batchMap(edges((20L, 21L), (5L, 20L))))
    // a follow-up batch touching 5 must keep converging with the one-shot
    Layout.componentsIndexAppend(spark, edges((3L, 5L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("b3"))
    assert(resolveMap(t) ==
      batchMap(edges((20L, 21L), (5L, 20L), (3L, 5L))))
    assert(resolveMap(t).values.toSet == Set(3L))
    Layout.dropComponentsIndex(spark, t)
  }

  test("half-applied replay sweep: random graphs, merge log landed first " +
    "(window b), labeling always equals the one-shot") {
    // Generalizes the dedicated half-crash case over random topologies:
    // the merge rows a fold WOULD write are derivable test-side — for
    // every pre-fold standing root r whose one-shot label E(r) over the
    // union is smaller, the fold appends (r, E(r)) (the translated CC's
    // component IS the final min, all batch effects land in one fold).
    // Appending those rows + the _cparents marker manually and then
    // re-folding is exactly the crash-between-appends replay.
    val rnd = new scala.util.Random(31)
    val t = "cmp_spec_sweep"
    (0 until 3).foreach { trial =>
      Layout.dropComponentsIndex(spark, t)
      val all = Seq.fill(45)((rnd.nextInt(25).toLong + 1, rnd.nextInt(25).toLong + 1))
      val Seq(b0, b1, b2) = all.grouped(15).toSeq
      Layout.componentsIndex(spark, edges(b0: _*), "a", "b",
        buckets = 2, tableName = t)
      val pre = resolveMap(t)
      val expect1 = batchMap(edges((b0 ++ b1): _*))
      val mergeRows = pre.values.toSet.toSeq
        .filter(r => expect1.getOrElse(r, r) < r)
        .map(r => (r, expect1(r)))
      if (mergeRows.nonEmpty) {
        import spark.implicits._
        mergeRows.toDF("child", "parent")
          .write.mode("append").format("parquet")
          .saveAsTable(s"${t}_cparents")
        spark.catalog.refreshTable(s"${t}_cparents")
      }
      val marker = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir") +
          s"/${t}_cparents_applied/s$trial")
      marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .mkdirs(marker)
      Layout.componentsIndexAppend(spark, edges(b1: _*), "a", "b",
        buckets = 2, tableName = t, batchTag = Some(s"s$trial"))
      assert(resolveMap(t) == expect1, s"trial $trial after replay")
      // the index keeps converging with the one-shot on a follow-up fold
      Layout.componentsIndexAppend(spark, edges(b2: _*), "a", "b",
        buckets = 2, tableName = t, batchTag = Some(s"s${trial}_f"))
      assert(resolveMap(t) == batchMap(edges(all: _*)), s"trial $trial final")
    }
    Layout.dropComponentsIndex(spark, t)
  }

  test("crash window c: map rows landed but the _croots marker was lost — " +
    "replay re-appends nothing and changes nothing") {
    val t = "cmp_spec_winc"
    Layout.dropComponentsIndex(spark, t)
    Layout.componentsIndex(spark, edges((10L, 11L)), "a", "b",
      buckets = 2, tableName = t)
    Layout.componentsIndexAppend(spark, edges((5L, 10L), (20L, 21L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("wc"))
    val labels = resolveMap(t)
    val counts = (spark.table(s"${t}_croots").count(),
      spark.table(s"${t}_cparents").count())
    // lose ONLY the _croots marker (crash after the append, before the
    // mark) and replay: the _cparents block is marker-skipped; the
    // _croots block recomputes newRoots against a map that now KNOWS
    // every batch id — the anti-join leaves nothing to append
    val marker = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir") + s"/${t}_croots_applied/wc")
    val fs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(marker)); fs.delete(marker, true)
    Layout.componentsIndexAppend(spark, edges((5L, 10L), (20L, 21L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("wc"))
    assert(resolveMap(t) == labels)
    assert((spark.table(s"${t}_croots").count(),
      spark.table(s"${t}_cparents").count()) == counts)
    Layout.dropComponentsIndex(spark, t)
  }

  test("a batch of merges between standing groups resolves each merged " +
    "group to the pair min, with one merge-log row per merged root") {
    val t = "cmp_spec_merge_batch"
    Layout.dropComponentsIndex(spark, t)
    // history: 20 groups {4g..4g+3} chained by path edges, root 4g
    val hist = spark.range(60)
      .select((expr("id div 3") * 4 + col("id") % 3).as("a"))
      .select(col("a"), (col("a") + 1).as("b"))
    Layout.componentsIndex(spark, hist, "a", "b", buckets = 2, tableName = t)
    // one batch: 5 brand-new two-id components and 5 merges joining
    // standing groups 2m and 2m+1 (roots 8m and 8m+4)
    val fresh = (0 until 5).map(i => (1000L + 2 * i, 1001L + 2 * i))
    val merges = (0 until 5).map(m => (8L * m, 8L * m + 4))
    Layout.componentsIndexAppend(spark, edges(fresh ++ merges: _*), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("merge_b1"))
    val got = resolveMap(t)
    (0L until 80L).foreach { id =>
      val root = if (id < 40) id / 8 * 8 else id / 4 * 4
      assert(got(id) == root, s"id $id")
    }
    fresh.foreach { case (u, v) => assert(got(u) == u && got(v) == u) }
    val parents = spark.table(s"${t}_cparents")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSet
    assert(parents == merges.map { case (lo, hi) => hi -> lo }.toSet,
      s"got $parents")
    Layout.dropComponentsIndex(spark, t)
  }

  test("self-loops and isolated ids are excluded, like the batch operators") {
    val t = "cmp_spec_iso"
    Layout.dropComponentsIndex(spark, t)
    Layout.componentsIndex(spark, edges((7L, 7L), (1L, 2L)), "a", "b",
      buckets = 2, tableName = t)
    Layout.componentsIndexAppend(spark, edges((9L, 9L)), "a", "b",
      buckets = 2, tableName = t, batchTag = Some("b2"))
    assert(resolveMap(t) == Map(1L -> 1L, 2L -> 1L))
    Layout.dropComponentsIndex(spark, t)
  }

  test("graft.checkpointStorage tiers yield identical labeling " +
    "(memdisk/disk/reliable; VERDICT r12 next #2)") {
    val t = "cmp_spec_storage"
    val rnd = new scala.util.Random(7)
    val all = Seq.fill(50)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
    val parts = all.grouped(25).toSeq
    val expect = batchMap(edges(all: _*))
    val ckDir = java.nio.file.Files.createTempDirectory("cc_reliable").toString
    spark.sparkContext.setCheckpointDir(ckDir)
    val got = Seq("memdisk", "disk", "reliable").map { mode =>
      spark.conf.set(graft.Storage.CheckpointStorageConf, mode)
      try {
        Layout.dropComponentsIndex(spark, t)
        Layout.componentsIndex(spark, edges(parts.head: _*), "a", "b",
          buckets = 2, tableName = t)
        Layout.componentsIndexAppend(spark, edges(parts(1): _*), "a", "b",
          buckets = 2, tableName = t, batchTag = Some(s"$mode-b1"))
        mode -> resolveMap(t)
      } finally spark.conf.unset(graft.Storage.CheckpointStorageConf)
    }
    got.foreach { case (mode, m) => assert(m == expect, s"mode $mode") }
    Layout.dropComponentsIndex(spark, t)
  }

  test("random edge batches equal the one-shot labeling (seeded sweep)") {
    val rnd = new scala.util.Random(12)
    val t = "cmp_spec_rand"
    (0 until 3).foreach { trial =>
      Layout.dropComponentsIndex(spark, t)
      val all = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      val parts = all.grouped(20).toSeq
      Layout.componentsIndex(spark, edges(parts.head: _*), "a", "b",
        buckets = 2, tableName = t)
      parts.tail.zipWithIndex.foreach { case (p, i) =>
        Layout.componentsIndexAppend(spark, edges(p: _*), "a", "b",
          buckets = 2, tableName = t, batchTag = Some(s"t${trial}_$i"))
      }
      assert(resolveMap(t) == batchMap(edges(all: _*)), s"trial $trial")
    }
    Layout.dropComponentsIndex(spark, t)
  }
}
