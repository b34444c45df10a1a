package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** SemDeDup (Abbas et al. 2023) — [[Similarity.semDedup]]: spherical-
  * k-means clusters + exact within-cluster cosine + keep-first under a
  * total order. The oracle row (dedup_semdedup) gates the subset/recall
  * contract against DuckDB; these tests pin the operator semantics. */
class SemDedupSpec extends SparkSpec {

  /** 3 well-separated direction clusters of 20 vectors (the IVF fixture
    * regime: within-cluster cosine ≈ 0.95+, cross-cluster ≈ 0). */
  private lazy val clustered: DataFrame = {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(5)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Seq.fill(3)(unit(Array.fill(32)(rng.nextGaussian())))
    centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 20).map { j =>
        val v = unit(c.map(_ + rng.nextGaussian() * 0.06))
        (ci * 100L + j, v.toSeq)
      }
    }.toDF("vec_id", "embedding")
  }

  /** Global keep-min-id removal set: b removed iff some a < b has
    * decimal-gated cosine >= threshold (the oracle's n_true set). */
  private def globalRemoved(df: DataFrame, threshold: Double): Set[Long] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      na = math.sqrt(va.map(x => x * x).sum)
      nb = math.sqrt(vb.map(x => x * x).sum)
      if BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= threshold
    } yield ib).toSet
  }

  test("semDedup keepBy=id equals the global keep-min-id rule when cells align with clusters") {
    val truth = globalRemoved(clustered, 0.8)
    assert(truth.size >= 40, s"clusters must create removals, got ${truth.size}")
    val out = Similarity.semDedup(clustered, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 3, seed = 42, tau = 0.8)
      .collect()
    assert(out.length == 60, "one output row per input vector")
    val removed = out.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    // subset holds unconditionally; on cluster-aligned cells it is equality
    assert(removed.subsetOf(truth), "clustered removals outside the global rule")
    assert(removed == truth,
      s"cells should align with clusters: ${removed.size}/${truth.size}")
  }

  test("semDedupAgainst equals the global corpus-before-batch rule on cluster-aligned cells") {
    import graft.functions.ivfAssign
    val corpus = clustered.filter(col("vec_id") % 2 === 0)
    val batch = clustered.filter(col("vec_id") % 2 =!= 0)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
      k = 3, lloydIters = 3, seed = 42)
    val corpusCells = corpus.withColumn("cell",
      element_at(ivfAssign(col("embedding"), cents, 1), 1))
    val out = Similarity.semDedupAgainst(batch, corpusCells,
        "vec_id", "embedding", cents, probes = 1, tau = 0.8)
      .collect()
    assert(out.length == 30, "one output row per batch vector")
    val removed = out.filter(!_.getBoolean(3)).map(_.getLong(0)).toSet
    // driver-exact global rule: batch b removed iff some a with (a is
    // corpus OR a is a smaller batch id), a != b, decimal cosine >= tau.
    // Note the ids interleave — corpus-before-batch is NOT keep-min-id,
    // which is exactly what this pins: an even id LARGER than b still
    // precedes b (it is corpus), while an odd id smaller than b precedes
    // only as a batch member.
    val rows = clustered.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    def cosDec(va: Array[Double], vb: Array[Double]): BigDecimal = {
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val na = math.sqrt(va.map(x => x * x).sum)
      val nb = math.sqrt(vb.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    val expected = (for {
      (ib, vb) <- rows if ib % 2 != 0
      if rows.exists { case (ia, va) =>
        ia != ib && (ia % 2 == 0 || ia < ib) && cosDec(va, vb) >= 0.8 }
    } yield ib).toSet
    assert(expected.nonEmpty, "fixture must create batch removals")
    assert(removed == expected,
      s"aligned cells should reproduce the global rule exactly: " +
        s"${removed.size}/${expected.size}")
  }

  test("a zero-norm corpus vector in a probed cell removes nothing in semDedupAgainst") {
    import graft.functions.ivfAssign
    val sp = spark
    import sp.implicits._
    val corpus = clustered.filter(col("vec_id") % 2 === 0)
    val batch = clustered.filter(col("vec_id") % 2 =!= 0)
    val cents = Similarity.trainIvfCentroids(corpus, "vec_id", "embedding",
      k = 3, lloydIters = 3, seed = 42)
    // every cell holds batch members, so the zero vector's cell is probed
    def run(c: DataFrame) = Similarity.semDedupAgainst(batch,
        c.withColumn("cell", element_at(ivfAssign(col("embedding"), cents, 1), 1)),
        "vec_id", "embedding", cents, probes = 1, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toSet
    val zero = Seq((9998L, Seq.fill(32)(0.0))).toDF("vec_id", "embedding")
    val out = run(corpus)
    assert(out.exists(!_._2), "fixture must remove something")
    assert(run(corpus.unionByName(zero)) == out)
  }

  test("semDedup keepBy=centroid is keep-first under the (cent_sim, id) order within cells") {
    val out = Similarity.semDedup(clustered, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 3, seed = 42, tau = 0.8,
        keepBy = "centroid")
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), BigDecimal(r.getDouble(2)), r.getBoolean(3)))
    val vecs = clustered.collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Long, b: Long): BigDecimal = {
      val (va, vb) = (vecs(a), vecs(b))
      val dot = va.zip(vb).map { case (x, y) => x * y }.sum
      val na = math.sqrt(va.map(x => x * x).sum)
      val nb = math.sqrt(vb.map(x => x * x).sum)
      BigDecimal(dot / (na * nb)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
    }
    // replay the rule over the operator's own clustering: removed iff a
    // same-cell neighbor at >= tau precedes in the (cent_sim, id) order
    for ((id, cell, cs, kept) <- out) {
      val precedingNbr = out.exists { case (id2, cell2, cs2, _) =>
        id2 != id && cell2 == cell && cos(id, id2) >= 0.8 &&
          (cs2 < cs || (cs2 == cs && id2 < id))
      }
      assert(kept == !precedingNbr, s"vector $id: kept=$kept")
    }
    // the paper's policy keeps the LOW-centroid-sim member: at least one
    // cluster's survivor set must differ from keep-min-id's
    val keptIds = out.filter(_._4).map(_._1).toSet
    val keptById = Similarity.semDedup(clustered, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 3, seed = 42, tau = 0.8)
      .filter(col("kept")).collect().map(_.getLong(0)).toSet
    assert(keptIds != keptById, "orderings should pick different survivors")
    // (survivor COUNTS may legitimately differ: keep-first under different
    // orders diverges on non-transitive neighborhoods — a~b~c without a~c)
  }

  test("semDedup: subset + high vertex recall on noisy isotropic data with planted dups") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(17)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val base = (0 until 50).map(i => i.toLong -> unit(Array.fill(32)(rng.nextGaussian())))
    val dups = base.take(15).map { case (id, v) =>
      (1000L + id) -> unit(v.map(_ + rng.nextGaussian() * 0.02))
    }
    val embs = (base ++ dups).map { case (id, v) => (id, v.toSeq) }
      .toDF("vec_id", "embedding")
    val truth = globalRemoved(embs, 0.9)
    assert(truth.size == 15, s"the planted dups are the removal set: ${truth.size}")
    val removed = Similarity.semDedup(embs, "vec_id", "embedding",
        k = 4, probes = 2, lloydIters = 3, seed = 42, tau = 0.9)
      .filter(!col("kept")).collect().map(_.getLong(0)).toSet
    assert(removed.subsetOf(truth))
    assert(removed.size >= math.ceil(truth.size * 0.9).toInt,
      s"vertex recall ${removed.size}/${truth.size}")
  }

  /** Driver-side replay of SemDeDup's keep-first rule, one row
    * (id, primary cell, cent_sim, kept) per vector. Only the cells come
    * from the engine (the same trainIvfCentroids + ivfAssign calls, so
    * probes > 1 replays exactly); the centroid cosine, the precedence and
    * the decimal cosine gate are recomputed here: x is removed iff some
    * other vector sharing a probed cell precedes it at cosine >= tau. */
  private def keepFirstReplay(df: DataFrame, k: Int, probes: Int, tau: Double,
                              keepBy: String): Set[(Long, Int, Option[String], Boolean)] = {
    import graft.functions.ivfAssign
    val cents = Similarity.trainIvfCentroids(df, "vec_id", "embedding", k,
      lloydIters = 2, seed = 42)
    val rows = df.select(col("vec_id"), col("embedding").cast("array<double>"),
        ivfAssign(col("embedding"), cents, 1).as("top"),
        ivfAssign(col("embedding"), cents, probes).as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray,
        r.getSeq[Int](2).head, r.getSeq[Int](3).toSet))
    def dot(a: Seq[Double], b: Seq[Double]) = a.zip(b).map { case (x, y) => x * y }.sum
    val nsq = rows.map { case (id, v, _, _) => id -> v.map(x => x * x).sum }.toMap
    val cs = rows.map { case (id, v, _, _) =>
      id -> Option.when(nsq(id) > 0)(BigDecimal(cents.map(c => dot(v, c) / math.sqrt(nsq(id))).max)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
    def precedes(a: Long, b: Long) =
      if (keepBy == "id") a < b
      else cs(a).get < cs(b).get || (cs(a) == cs(b) && a < b)
    rows.map { case (id, v, top, cells) =>
      val removed = nsq(id) > 0 && rows.exists { case (id2, v2, _, cells2) =>
        id2 != id && nsq(id2) > 0 && cells.exists(cells2) && precedes(id2, id) &&
          BigDecimal(dot(v2, v) / (math.sqrt(nsq(id2)) * math.sqrt(nsq(id))))
            .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= tau
      }
      (id, top, cs(id).map(_.toString), !removed)
    }.toSet
  }

  test("semDedup equals a driver-side keep-first replay on clustered and isotropic data, both keep orders") {
    // cluster-aligned cells AND isotropic noise (sf0.001 embeddings at
    // the weak-pruning tau), boundary replication (probes > 1) on both
    def run(df: DataFrame, k: Int, probes: Int, tau: Double, keepBy: String) = {
      val got = Similarity.semDedup(df, "vec_id", "embedding", k, probes,
          lloydIters = 2, seed = 42, tau = tau, keepBy = keepBy)
        .collect().map(r => (r.getLong(0), r.getInt(1),
          Option(r.get(2)).map(_.toString), r.getBoolean(3))).toSet
      val expected = keepFirstReplay(df, k, probes, tau, keepBy)
      assert(got == expected, s"operator != replay (k=$k probes=$probes keepBy=$keepBy): " +
        s"only-operator=${(got -- expected).take(5)} only-replay=${(expected -- got).take(5)}")
      assert(got.exists(!_._4), "fixture must remove something")
    }
    run(clustered, k = 3, probes = 1, tau = 0.8, keepBy = "id")
    run(clustered, k = 3, probes = 2, tau = 0.8, keepBy = "centroid")
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    run(emb, k = 8, probes = 3, tau = 0.3, keepBy = "id")
  }

  test("semDedup chunked (chunks >= 2) equals the unchunked per-cell gather") {
    // the chunk-pair gather must be answer-identical to the whole-cell
    // gather: every (witness, target) chunk
    // combination meets in exactly one group, so the union of group
    // predicates is the per-cell predicate — on cluster-aligned cells,
    // isotropic noise, both keep orders, chunks both < and > cell size
    def run(df: DataFrame, k: Int, probes: Int, tau: Double,
            keepBy: String, chunks: Int) = {
      def snap(out: DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getInt(1),
          Option(r.get(2)).map(_.toString), r.getBoolean(3))).toSet
      val whole = snap(Similarity.semDedup(df, "vec_id", "embedding",
        k, probes, lloydIters = 2, seed = 42, tau = tau, keepBy = keepBy))
      val chunked = snap(Similarity.semDedup(df, "vec_id", "embedding",
        k, probes, lloydIters = 2, seed = 42, tau = tau, keepBy = keepBy,
        chunks = chunks))
      assert(whole == chunked,
        s"chunked != whole (k=$k probes=$probes keepBy=$keepBy chunks=$chunks): " +
          s"only-whole=${(whole -- chunked).take(5)} " +
          s"only-chunked=${(chunked -- whole).take(5)}")
      assert(whole.exists(!_._4), "fixture must remove something")
    }
    run(clustered, k = 3, probes = 1, tau = 0.8, keepBy = "id", chunks = 3)
    run(clustered, k = 3, probes = 2, tau = 0.8, keepBy = "centroid", chunks = 4)
    // chunks larger than any cell: most pair-groups hold one side only
    run(clustered, k = 3, probes = 1, tau = 0.8, keepBy = "id", chunks = 64)
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    run(emb, k = 8, probes = 3, tau = 0.3, keepBy = "id", chunks = 3)
  }

  test("semDedup maxCellRows guard fails actionably on a hot cell") {
    // every clustered fixture cell holds 20 members (probes = 1), so a
    // cap of 10 must trip and name the remedy; a cap of 64 must pass
    val e = intercept[IllegalStateException] {
      Similarity.semDedup(clustered, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 3, seed = 42, tau = 0.8,
        maxCellRows = 10)
    }
    assert(e.getMessage.contains("maxCellRows=10"))
    assert(e.getMessage.contains("chunks"), "message must name the remedy")
    val ok = Similarity.semDedup(clustered, "vec_id", "embedding",
      k = 3, probes = 1, lloydIters = 3, seed = 42, tau = 0.8,
      maxCellRows = 64)
    assert(ok.count() == 60)
  }

  test("semDedup is deterministic and partition-invariant; zero vectors are kept") {
    val sp = spark
    import sp.implicits._
    val zero = Seq((9999L, Seq.fill(32)(0.0))).toDF("vec_id", "embedding")
    val in = clustered.unionByName(zero)
    def run(df: DataFrame) = Similarity.semDedup(df, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 3, seed = 42, tau = 0.8)
      .collect().map(r => (r.getLong(0), r.getBoolean(3))).toSet
    val a = run(in)
    assert(a == run(in.repartition(13)), "partition-variant answer")
    assert(a.contains((9999L, true)), "the zero-norm vector must be kept")
  }
}
