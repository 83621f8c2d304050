package graft

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.functions.MisraGriesAgg

/** Misra–Gries heavy-hitters aggregate: exactness below capacity, the
  * underestimate/coverage theorems under real partitioned merges, top-k
  * recovery on a planted Zipf stream, and state serialization.
  */
class MisraGriesSpec extends SparkSpec {

  private def summarize(items: Seq[String], k: Int, parts: Int): Map[String, Long] = {
    import spark.implicits._
    val rows = items.toDF("w").repartition(parts)
    val out = rows.agg(expr(s"misra_gries(w, $k)").as("sk"))
      .select(explode(col("sk")).as("it"))
      .select(col("it.item"), col("it.est"))
      .collect()
    out.map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def exact(items: Seq[String]): Map[String, Long] =
    items.groupBy(identity).map { case (w, g) => w -> g.size.toLong }

  test("k >= distinct items gives exact counts") {
    val items = Seq.fill(40)(Seq("a", "b", "c")).flatten ++ Seq("d", "d", "e")
    val got = summarize(items, k = 8, parts = 5)
    assert(got == exact(items))
  }

  test("theorem bounds and coverage hold on a planted Zipf stream, any partitioning") {
    val rnd = new scala.util.Random(42)
    // ~100 distinct items, top three take >60% of the stream
    val stream = mutable.ArrayBuffer.empty[String]
    (1 to 12000).foreach { _ =>
      val u = rnd.nextDouble()
      val item =
        if (u < 0.30) "alpha"
        else if (u < 0.52) "beta"
        else if (u < 0.66) "gamma"
        else s"tail${rnd.nextInt(100)}"
      stream += item
    }
    val ex = exact(stream.toSeq)
    val n = stream.size.toLong
    val k = 10
    for (parts <- Seq(1, 4, 13)) {
      val sk = summarize(stream.toSeq, k, parts)
      assert(sk.size <= k)
      // underestimate: 0 <= exact - est <= N/(k+1) for every summary item
      sk.foreach { case (w, est) =>
        val e = ex(w)
        assert(est <= e, s"$w overestimated: $est > $e")
        assert((e - est) * (k + 1) <= n, s"$w bound violated: $e - $est vs $n/${k + 1}")
      }
      // coverage: every item above N/(k+1) must be present
      ex.filter { case (_, c) => c * (k + 1) > n }.keys.foreach { w =>
        assert(sk.contains(w), s"heavy item $w missing from summary ($parts parts)")
      }
      // top-3 recovery by estimated count
      val top3 = sk.toSeq.sortBy { case (w, c) => (-c, w) }.take(3).map(_._1).toSet
      assert(top3 == Set("alpha", "beta", "gamma"), s"got $top3")
    }
  }

  private def u(s: String) = org.apache.spark.unsafe.types.UTF8String.fromString(s)

  test("aggregate state round-trips through serialize/deserialize") {
    val agg = MisraGriesAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"), 4)
    val buf = mutable.HashMap(u("a") -> 5L, u("b") -> 2L, u("weird é中") -> 9L)
    val back = agg.deserialize(agg.serialize(buf))
    assert(back == buf)
  }

  test("merge trims to the (k+1)-th largest and drops non-positives") {
    val agg = MisraGriesAgg(org.apache.spark.sql.catalyst.expressions.Literal("x"), 2)
    val a = mutable.HashMap(u("a") -> 10L, u("b") -> 4L)
    val b = mutable.HashMap(u("c") -> 3L, u("b") -> 1L)
    val merged = agg.merge(a, b)
    // combined: a=10 b=5 c=3; third largest = 3; after subtract: a=7 b=2
    assert(merged == mutable.HashMap(u("a") -> 7L, u("b") -> 2L))
  }
}
