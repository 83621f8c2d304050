package graft

import org.apache.spark.sql.functions._

/** The r15 fused winnow kernels must be VALUE-IDENTICAL to the
  * expression chains they replaced (the oracle replays those chains in
  * SQL): `audio_winnow_fps` vs quantize→pack→filter→winnow→distinct,
  * `winnow_min4` vs the per-window array_min(slice(...)) form —
  * including the n<4 truncated-window edge, all-constant-shingle
  * streams, and sign edges of 16-bit PCM. One input differs on purpose:
  * on an empty array `winnow_min4` returns `[]` where the chain returns
  * `[null]` (the min of one empty window). The catalog never passes
  * one: dedup_winnowing's hash array has `greatest(length(t) - 7, 1)`
  * elements.
  */
class WinnowKernelSpec extends SparkSpec {
  import spark.implicits._

  test("audio_winnow_fps equals the expression chain on random PCM") {
    val rnd = new scala.util.Random(31)
    // production domain: the mint emits >= 64 samples — the expression
    // chain itself errors below 4 (q[i-1] over sequence(1, n-3) with
    // n < 4), so the reference comparison runs on len >= 4 and the
    // kernel's sub-window guard is pinned separately below
    val rows = Seq.tabulate(200) { i =>
      val len = 4 + rnd.nextInt(120)
      val smp =
        if (i % 7 == 0) Array.fill(len)(-32768 + 256 * (i % 3)) // constant
        else Array.fill(len)(rnd.nextInt(65536) - 32768)
      (i.toLong, smp.toSeq)
    }
    val df = rows.toDF("id", "smp")
    val viaExpr = df
      .withColumn("q", expr(
        "transform(smp, x -> CAST((x + 32768) DIV 256 AS BIGINT))"))
      .withColumn("g", expr(
        "filter(transform(sequence(1, size(q) - 3), " +
          "i -> ((q[i-1]*256 + q[i])*256 + q[i+1])*256 + q[i+2]), " +
          "x -> x % 16843009 != 0)"))
      .select(col("id"), expr(
        "array_distinct(CASE WHEN size(g) >= 4 THEN " +
          "transform(sequence(1, size(g) - 3), " +
          "j -> array_min(slice(g, j, 4))) " +
          "ELSE CAST(array() AS array<bigint>) END)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaKernel = df
      .select(col("id"), expr("audio_winnow_fps(smp)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel.keySet == viaExpr.keySet)
    for ((id, ks) <- viaKernel) {
      // the oracle contract is SET equality (rows after explode); the
      // kernel additionally preserves first-occurrence order
      assert(ks == viaExpr(id), s"id=$id")
    }
    assert(viaKernel.values.exists(_.nonEmpty))
    // constant streams filter to nothing -> empty fingerprint set
    assert(viaKernel.values.exists(_.isEmpty), "constant-stream edge")
    // sub-window guard: fewer than 4 samples -> no full gram window
    val tiny = Seq((0L, Seq(1, 2, 3)), (1L, Seq.empty[Int]))
      .toDF("id", "smp")
      .select(expr("audio_winnow_fps(smp)").as("h"))
      .collect().map(_.getSeq[Long](0))
    assert(tiny.forall(_.isEmpty))
  }

  test("winnow_min4 equals the expression chain incl. n<4 truncation") {
    val rnd = new scala.util.Random(47)
    val rows = Seq.tabulate(120) { i =>
      val len = if (i < 12) 1 + (i % 4) else 4 + rnd.nextInt(80)
      (i.toLong, Array.fill(len)(rnd.nextLong() & 0x7fffffffL).toSeq)
    }
    val df = rows.toDF("id", "hs")
    val chain = expr(
      "array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)), " +
        "j -> array_min(slice(hs, j, 4))))")
    val viaExpr = df.select(col("id"), chain.as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val viaKernel = df
      .select(col("id"), expr("winnow_min4(hs)").as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaKernel == viaExpr)
    // the empty array: [] from the kernel, [null] from the chain
    val empty = Seq(Seq.empty[Long]).toDF("hs")
      .select(expr("winnow_min4(hs)"), chain).head()
    assert(empty.getSeq[Long](0).isEmpty)
    assert(empty.getSeq[java.lang.Long](1) == Seq(null))
  }

  test("winnow_min4 is type-preserving on array<int> (murmur3 hashes)") {
    val rnd = new scala.util.Random(53)
    val rows = Seq.tabulate(120) { i =>
      val len = if (i < 12) 1 + (i % 4) else 4 + rnd.nextInt(80)
      (i.toLong, Array.fill(len)(rnd.nextInt()).toSeq) // full int range incl. negatives
    }
    val df = rows.toDF("id", "hs")
    val viaExpr = df.select(col("id"), expr(
        "array_distinct(transform(sequence(1, greatest(size(hs) - 3, 1)), " +
          "j -> array_min(slice(hs, j, 4))))").as("h"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val kdf = df.select(col("id"), expr("winnow_min4(hs)").as("h"))
    assert(kdf.schema("h").dataType ==
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.IntegerType, containsNull = false))
    val viaKernel = kdf
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(viaKernel == viaExpr)
  }
}
