package graft

import graft.ml.{DbscanCC, Gsdmm}

class MlSpec extends SparkSpec {

  test("DbscanCC.epsComponents groups parallel vectors, omits edge-less " +
      "and zero vectors") {
    import spark.implicits._
    // 4-dim integer vectors. cosine floor 0.9999: exactly parallel
    // vectors (scaled copies) edge; orthogonal ones don't. Sign-LSH puts
    // parallel vectors in the SAME bucket of every band (the hyperplane
    // dot scales), so the blocking can never drop these edges.
    val dv = Seq(
      (1L, Seq(1000L, 0L, 0L, 0L)),
      (2L, Seq(500L, 0L, 0L, 0L)),   // parallel to 1 → same component
      (3L, Seq(0L, 1000L, 0L, 0L)),
      (4L, Seq(0L, 2000L, 0L, 0L)),  // parallel to 3 → same component
      (5L, Seq(707L, 707L, 0L, 0L)), // 45° from both — edge-less
      (6L, Seq(0L, 0L, 0L, 0L)))     // zero vector — never edges
      .toDF("id", "vec")
      .withColumn("s2", org.apache.spark.sql.functions.expr(
        "aggregate(vec, 0L, (a, x) -> a + x * x)"))
    val labels = DbscanCC.epsComponents(dv, "id", "vec", "s2",
      dims = 4, bands = 8, bits = 4, cap = 64, salt = "t",
      cosine = 0.9999, requireDotPos = false)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L),
      "parallel pairs form two components labeled by their min id; " +
        "edge-less (5) and zero (6) vertices are absent")
  }

  test("DbscanCC.epsComponents: identical vectors under distinct ids " +
      "always edge (distance 0 collides in every band)") {
    import spark.implicits._
    val dv = Seq(
      (10L, Seq(3L, 1L, 4L, 1L)),
      (20L, Seq(3L, 1L, 4L, 1L)),
      (30L, Seq(-3L, -1L, -4L, -1L))) // antipode: dot < 0
      .toDF("id", "vec")
      .withColumn("s2", org.apache.spark.sql.functions.expr(
        "aggregate(vec, 0L, (a, x) -> a + x * x)"))
    // The antipode's dot² passes the magnitude test but must not edge:
    // sign-LSH gives it flipped bits in every band (no collision) and
    // requireDotPos=true rejects it even if a bucket ever matched.
    val labels = DbscanCC.epsComponents(dv, "id", "vec", "s2",
      dims = 4, bands = 8, bits = 4, cap = 64, salt = "t",
      cosine = 0.85, requireDotPos = true)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels === Map(10L -> 10L, 20L -> 10L))
  }

  test("GSDMM assign routes unseen docs to the matching fitted topic") {
    val docsA = Array.fill(20)(Array("apple", "banana", "cherry"))
    val docsB = Array.fill(20)(Array("xray", "yankee", "zulu"))
    val model = Gsdmm.fit(docsA ++ docsB, k = 8, alpha = 0.1, beta = 0.1,
      iters = 15, seed = 7)
    val zA = Gsdmm.assign(model, Array("apple", "cherry"))
    val zB = Gsdmm.assign(model, Array("zulu", "zulu", "xray"))
    // each unseen doc lands in a cluster its vocabulary dominates
    assert(model.wordCounts(zA).getOrElse("apple", 0) > 0)
    assert(model.wordCounts(zB).getOrElse("zulu", 0) > 0)
    assert(zA !== zB)
    // deterministic
    assert(Gsdmm.assign(model, Array("apple", "cherry")) === zA)
  }

  test("decision stump: histogram split beats the root and uses TopKPerKey") {
    val sfDir = "/root/testdata/sf0.001"
    val df = graft.SparkEntry.queries("ml_decision_stump")(spark, sfDir)
    val rows = df.collect()
    assert(rows.length === 3, "one best split per feature")
    rows.foreach { r =>
      val nl = r.getAs[Long]("nl"); val pl = r.getAs[Long]("pl")
      val nr = r.getAs[Long]("nr"); val pr = r.getAs[Long]("pr")
      val n = nl + nr; val p = pl + pr
      val rootGini = 1d - math.pow(p.toDouble / n, 2) -
        math.pow((n - p).toDouble / n, 2)
      assert(r.getAs[Double]("gini") <= rootGini + 1e-9,
        s"split must not be worse than the root for ${r.getAs[String]("feature")}")
      assert(nl > 0 || nr > 0)
    }
    // the argmin runs through the custom operator
    assert(PlanBudget.allNodes(df.queryExecution.executedPlan)
      .exists(_.isInstanceOf[graft.plans.TopKPerKeyExec]),
      "best-split selection must use TopKPerKeyExec")
  }

  test("svd power iteration: unit direction, positive sigma, deterministic") {
    val sfDir = "/root/testdata/sf0.001"
    val q = graft.SparkEntry.queries("ml_svd_power")
    val rows = q(spark, sfDir).collect()
    assert(rows.length === 64)
    val v = rows.sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("v_micro"))
    val norm2 = v.map(x => (x / 1e6) * (x / 1e6)).sum
    assert(math.abs(norm2 - 1d) < 1e-3,
      s"direction must be unit-norm in micro-units, got $norm2")
    assert(rows.head.getAs[Long]("sigma_micro") > 0L)
    // order-independent micro-quantized trajectory: re-running yields
    // identical longs
    val again = q(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("dim")).map(_.getAs[Long]("v_micro"))
    assert(again.toSeq === v.toSeq)
  }

  test("GSDMM groups disjoint-vocabulary docs and is seed-deterministic") {
    val docsA = Array.fill(20)(Array("apple", "banana", "cherry"))
    val docsB = Array.fill(20)(Array("xray", "yankee", "zulu"))
    val docs = docsA ++ docsB
    val r1 = Gsdmm.fit(docs, k = 8, alpha = 0.1, beta = 0.1, iters = 15, seed = 7)
    val r2 = Gsdmm.fit(docs, k = 8, alpha = 0.1, beta = 0.1, iters = 15, seed = 7)
    assert(r1.labels.toSeq === r2.labels.toSeq)
    assert(r1.clusterDocCount.sum === 40)
    // the two vocabularies must not share a cluster
    val aClusters = r1.labels.take(20).toSet
    val bClusters = r1.labels.drop(20).toSet
    assert(aClusters.intersect(bClusters).isEmpty)
  }
}
