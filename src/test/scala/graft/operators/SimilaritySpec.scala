package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  /** Synthetic embeddings with planted near-duplicate pairs: id and
    * 1000+id share a vector with small noise → cosine ≈ 0.99. */
  private lazy val embs: DataFrame = {
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
    (base ++ dups).map { case (id, v) => (id, v.toSeq) }.toDF("vec_id", "embedding")
  }

  private def brutePairs(threshold: Double): Set[(Long, Long)] = {
    val rows = embs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      if dot >= threshold
    } yield (ia, ib)).toSet
  }

  test("lshNearDupPairs: high recall and exact precision at a near-dup threshold") {
    val truth = brutePairs(0.9)
    assert(truth.size >= 15, "planted pairs must qualify")
    val got = Similarity.lshNearDupPairs(embs, "vec_id", "embedding",
        dim = 32, rowsPerBand = 8, bands = 12, seed = 42, simThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision 1.0 by construction (exact verify), recall from banding
    assert(got.subsetOf(truth))
    assert(got.size.toDouble / truth.size >= 0.9,
      s"recall ${got.size}/${truth.size}")
  }

  test("lshNearDupPairs is deterministic across runs (seeded hyperplanes)") {
    def run() = Similarity.lshNearDupPairs(embs, "vec_id", "embedding",
        dim = 32, rowsPerBand = 8, bands = 12, seed = 42, simThreshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  /** Clustered embeddings — the regime IVF is built for: 3 well-separated
    * direction clusters of 20 vectors each (random 32-d centers are nearly
    * orthogonal; members are small perturbations, within-cluster cosine
    * ≈ 0.95+, cross-cluster ≈ 0). */
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

  private def bruteOf(df: DataFrame, threshold: Double): Set[(Long, Long)] = {
    val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    (for {
      (ia, va) <- rows; (ib, vb) <- rows if ia < ib
      dot = va.zip(vb).map { case (x, y) => x * y }.sum
      na = math.sqrt(va.map(x => x * x).sum); nb = math.sqrt(vb.map(x => x * x).sum)
      if BigDecimal(dot / (na * nb))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP) >= threshold
    } yield (ia, ib)).toSet
  }

  test("ivfNearDupPairs: full recall and real pruning on clustered data") {
    val truth = bruteOf(clustered, 0.8)
    assert(truth.size >= 100, s"clusters must create near pairs, got ${truth.size}")
    // all qualifying pairs are within-cluster on this data
    assert(truth.forall { case (a, b) => a / 100 == b / 100 })
    val got = Similarity.ivfNearDupPairs(clustered, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 3, seed = 42, simThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truth), "exact verify guarantees precision 1.0")
    assert(got == truth,
      s"cells should align with clusters: recall ${got.size}/${truth.size}")
  }

  test("ivfNearDupPairs is deterministic across runs (hash-sampled init + fixed Lloyd)") {
    def run() = Similarity.ivfNearDupPairs(clustered, "vec_id", "embedding",
        k = 3, probes = 1, lloydIters = 2, seed = 42, simThreshold = 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(run() == run())
  }

  /** `df` plus one all-zero vector: it has no direction, so under the
    * cosine gate it pairs with nothing. */
  private def withZero(df: DataFrame): DataFrame = {
    val sp = spark
    import sp.implicits._
    df.unionByName(Seq((9999L, Seq.fill(32)(0.0))).toDF("vec_id", "embedding"))
  }

  private def triples(df: DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("a zero-norm vector pairs with nothing in lshNearDupPairs") {
    // 4-plane bands: the zero vector's constant sign bits collide with
    // many buckets, so it reaches the verify step as a candidate
    def lsh(df: DataFrame) = triples(Similarity.lshNearDupPairs(df, "vec_id",
      "embedding", dim = 32, rowsPerBand = 4, bands = 8, seed = 42, simThreshold = 0.9))
    val lshPairs = lsh(embs)
    assert(lshPairs.nonEmpty)
    assert(lsh(withZero(embs)) == lshPairs)
  }

  test("a zero-norm vector pairs with nothing in ivfNearDupPairs") {
    // the zero vector shares its (tie-broken) cell with a whole cluster
    def ivf(df: DataFrame) = triples(Similarity.ivfNearDupPairs(df, "vec_id",
      "embedding", k = 3, probes = 1, lloydIters = 3, seed = 42, simThreshold = 0.8))
    val ivfPairs = ivf(clustered)
    assert(ivfPairs.nonEmpty)
    assert(ivf(withZero(clustered)) == ivfPairs)
  }

  test("a zero-norm batch vector pairs with nothing in ivfNearDupsAgainstLayout") {
    import graft.functions.ivfAssign
    val cents = Similarity.trainIvfCentroids(clustered, "vec_id", "embedding",
      k = 3, lloydIters = 3, seed = 42)
    val layout = clustered.withColumn("cell",
      element_at(ivfAssign(col("embedding"), cents, 1), 1))
    val batch = clustered.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 5000L).as("vec_id"), col("embedding"))
    def run(b: DataFrame) = triples(Similarity.ivfNearDupsAgainstLayout(b, layout,
      "vec_id", "embedding", cents, probes = 1, simThreshold = 0.8))
    val pairs = run(batch)
    assert(pairs.nonEmpty)
    assert(run(withZero(batch)) == pairs)
  }

  test("ivfNearDupPairs at probes = 3 equals a replay over shared probed cells on isotropic data") {
    import graft.functions.ivfAssign
    // the sim_ann_ivf gate's geometry: isotropic embeddings, k = 8 cells,
    // 3 probes, the weak-pruning threshold 0.3
    val emb = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      k = 8, lloydIters = 3, seed = 42)
    val rows = emb.select(col("vec_id"), col("embedding").cast("array<double>"),
        ivfAssign(col("embedding"), cents, 3).as("cells"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getSeq[Int](2).toSet))
    def nrm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    def decCos(a: Array[Double], b: Array[Double]) =
      BigDecimal(a.zip(b).map { case (x, y) => x * y }.sum / (nrm(a) * nrm(b)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP)
    val scored = for {
      (ia, va, ca) <- rows.toSeq; (ib, vb, cb) <- rows.toSeq if ia < ib
      sim = decCos(va, vb) if sim >= 0.3
    } yield (ia, ib, sim.toDouble, ca.exists(cb))
    val expected = scored.collect { case (a, b, s, true) => (a, b, s) }.toSet
    assert(expected.nonEmpty && expected.size < scored.size,
      s"cells must prune some but not all pairs: ${expected.size}/${scored.size}")
    val got = triples(Similarity.ivfNearDupPairs(emb, "vec_id", "embedding",
      k = 8, probes = 3, lloydIters = 3, seed = 42, simThreshold = 0.3))
    assert(got == expected, s"only-operator=${(got -- expected).take(5)} " +
      s"only-replay=${(expected -- got).take(5)}")
  }

  test("Lloyd fold route yields bit-identical centroids to the posexplode route (r15)") {
    // the r15 per-row fold (NormalizedVectorSumAgg, merge pinned to
    // ascending partition id) vs the replaced posexplode + (cell, pos)
    // aggregate, kept here as the reference — centroids must agree to
    // the BIT on a multi-partition frame, or the candidate sets
    // downstream could silently drift
    def normalized(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    // the same init, then Lloyd by the per-(cell, dim) sum of
    // row-normalized members over dim rows per member
    def posexplodeLloyd(df: DataFrame, iters: Int): Seq[Seq[Double]] = {
      var cents = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
        k = 3, lloydIters = 0, seed = 42)
      val dim = cents.head.length
      val base = df
        .select(col("embedding").cast("array<double>").as("emb"),
          graft.functions.l2NormSq(col("embedding")).as("nsq"))
        .filter(col("nsq") > 0)
      for (_ <- 1 to iters) {
        val acc = Array.fill(cents.size, dim)(0.0)
        val seen = new Array[Boolean](cents.size)
        base
          .select(element_at(graft.functions.ivfAssign(col("emb"), cents, 1), 1)
            .as("cell"), sqrt(col("nsq")).as("nrm"), col("emb"))
          .select(col("cell"), col("nrm"), posexplode(col("emb")))
          .filter(col("pos") < dim)
          .groupBy(col("cell"), col("pos"))
          .agg(sum(col("col") / col("nrm")).as("s"))
          .collect()
          .foreach { r =>
            acc(r.getInt(0))(r.getInt(1)) = r.getDouble(2)
            seen(r.getInt(0)) = true
          }
        cents = cents.zipWithIndex.map { case (old, c) =>
          val m = normalized(acc(c))
          if (seen(c) && m.exists(_ != 0.0)) m.toSeq else old
        }
      }
      cents
    }
    for (df <- Seq(clustered, clustered.repartition(7, col("vec_id")))) {
      val fold = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
          k = 3, lloydIters = 3, seed = 42).flatten
        .map(java.lang.Double.doubleToRawLongBits)
      val old = posexplodeLloyd(df, 3).flatten
        .map(java.lang.Double.doubleToRawLongBits)
      assert(fold == old,
        "fold-route centroids must be bit-identical to the posexplode reference")
    }
  }

  test("farthest-point init expression: max_centroid_dot is bit-identical to the greatest-of-dots chain (r15)") {
    // the r15 init replaces a per-step greatest(dot_product(emb,
    // typedLit(c)) / sqrt(nsq), ...) chain with ONE step-shape-invariant
    // MaxDotExpr — the selection values must agree to the BIT for every
    // row and every chosen-set size, or the init (and every centroid
    // downstream) silently drifts from the pinned contract
    val cs = Similarity.trainIvfCentroids(clustered, "vec_id", "embedding",
      k = 3, lloydIters = 1, seed = 42)
    val base = clustered.select(
        col("embedding").cast("array<double>").as("emb"),
        graft.functions.l2NormSq(col("embedding")).as("nsq"))
      .filter(col("nsq") > 0)
    for (n <- 1 to cs.size) {
      val chosen = cs.take(n)
      val cosines = chosen.map(c =>
        graft.functions.dotProduct(col("emb"), typedLit(c)) / sqrt(col("nsq")))
      val oldCol = if (cosines.size == 1) cosines.head else greatest(cosines: _*)
      val fused = graft.functions.maxCentroidDot(col("emb"), chosen) /
        sqrt(col("nsq"))
      base.select(fused.as("f"), oldCol.as("o")).collect().foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"n=$n: ${r.getDouble(0)} vs ${r.getDouble(1)}")
      }
    }
  }

  test("trainIvfCentroids returns unit-norm centroids, one per separated cluster") {
    val cents = Similarity.trainIvfCentroids(clustered, "vec_id", "embedding",
      k = 3, lloydIters = 3, seed = 42)
    assert(cents.size == 3)
    cents.foreach { c =>
      assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9, "unit norm")
    }
    // pairwise centroid cosines should be near zero (orthogonal clusters)
    for (i <- 0 until 3; j <- i + 1 until 3) {
      val dot = cents(i).zip(cents(j)).map { case (x, y) => x * y }.sum
      assert(math.abs(dot) < 0.5, s"centroids $i,$j too close: $dot")
    }
  }

  test("topKForVectorIvf equals brute-force top-k when the cluster is probed") {
    val rows = clustered.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val q = rows.find(_._1 == 100L).get._2 // a member of cluster 1
    val expect = rows.map { case (id, v) =>
      val dot = v.zip(q).map { case (x, y) => x * y }.sum
      val na = math.sqrt(v.map(x => x * x).sum)
      val nq = math.sqrt(q.map(x => x * x).sum)
      (id, BigDecimal(dot / (na * nq)).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toList
    val cents = Similarity.trainIvfCentroids(clustered, "vec_id", "embedding",
      k = 3, lloydIters = 3, seed = 42)
    val got = Similarity.topKForVectorIvf(clustered, "vec_id", "embedding",
        q.toSeq, k = 5, cents, nprobe = 1)
      .collect().map(_.getLong(0)).toList
    assert(got == expect,
      s"nprobe=1 on well-separated clusters must match brute force: $got vs $expect")
  }

  test("trainIvfCentroids at k=64 uses the oversample init and stays fast") {
    // 64 well-separated direction clusters in 128-d (random high-dim
    // centers are near-orthogonal), 10 members each. Above
    // FarthestPointExactK the init must switch to the one-pass oversample
    // + driver-local farthest-point refine — the exact k−1-scan init is
    // quadratic in k and would dominate here.
    assert(64 > Similarity.FarthestPointExactK)
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(11)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val centers = Seq.fill(64)(unit(Array.fill(128)(rng.nextGaussian())))
    val df = centers.zipWithIndex.flatMap { case (c, ci) =>
      (0 until 10).map { j =>
        (ci * 100L + j, unit(c.map(_ + rng.nextGaussian() * 0.05)).toSeq)
      }
    }.toDF("vec_id", "embedding")

    val t0 = System.nanoTime()
    val cents = Similarity.trainIvfCentroids(df, "vec_id", "embedding",
      k = 64, lloydIters = 2, seed = 42)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(cents.size == 64)
    cents.foreach(c => assert(math.abs(c.map(x => x * x).sum - 1.0) < 1e-9))
    // deterministic across runs (hash-ranked sample, fixed refine order)
    assert(cents == Similarity.trainIvfCentroids(df, "vec_id", "embedding",
      k = 64, lloydIters = 2, seed = 42))
    // farthest-point over near-orthogonal clusters must spread the seeds:
    // the 64 centroids should stay mutually far (no two in one cluster)
    val tooClose = (for {
      i <- 0 until 64; j <- i + 1 until 64
      dot = cents(i).zip(cents(j)).map { case (x, y) => x * y }.sum
      if dot > 0.8
    } yield (i, j)).size
    assert(tooClose == 0, s"$tooClose centroid pairs collapsed into one cluster")
    // "finishing in seconds": generous wall bound so a loaded box doesn't
    // flake, while the quadratic k−1-scan init (minutes of job overhead at
    // k=64) would still blow it
    assert(secs < 60.0, s"k=64 init took $secs s — oversample path not engaged?")
  }

  test("topKForVector returns exact top-k by cosine") {
    val rows = embs.collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray)
    val q = rows.find(_._1 == 0L).get._2
    val expect = rows.map { case (id, v) =>
      val dot = v.zip(q).map { case (x, y) => x * y }.sum
      (id, BigDecimal(dot).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toList
    val got = Similarity.topKForVector(embs, "vec_id", "embedding", q.toSeq, 5)
      .collect().map(_.getLong(0)).toList
    assert(got == expect)
  }
}
