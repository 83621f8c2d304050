package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Memory-pressure evidence (VERDICT r5 item 8): run the heaviest
  * catalog queries under a deliberately small heap and record SPILL
  * metrics — proving the sort/agg/join paths degrade to disk spill
  * instead of OOM when executor memory is constrained.
  *
  * Run with the heap capped via the launcher:
  * `SPARK_DRIVER_MEM=4g scripts/run_main.sh graft.SpillBench <sfDir> [names]`
  * (build.sbt/run_main.sh size the fixed heap from SPARK_DRIVER_MEM).
  * Spill totals come from stage-completed task metrics
  * (memoryBytesSpilled / diskBytesSpilled) aggregated per query.
  * Output: one JSON line per query + a tail summary line; exit 1 on any
  * failure (an OOM shows up as a failed query, not a silent gap).
  */
object SpillBench {

  private val heavyDefault = Seq(
    "pipe_multimodal_audio", "ml_pagerank", "pipe_profile_table",
    "text_bpe_train", "dedup_winnowing", "agg_percentiles",
    "window_ewma_smooth", "agg_outlier_mad", "dedup_minhash_lsh",
    "pipe_customer_gold", "window_seasonal_decompose", "text_embedding_lookup",
    "force_sort_wide", "force_agg_wide")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(heavyDefault)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")

    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakMem = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          memSpill.addAndGet(m.memoryBytesSpilled)
          diskSpill.addAndGet(m.diskBytesSpilled)
          peakMem.accumulateAndGet(m.peakExecutionMemory, math.max)
        }
      }
    })

    // Forcing shapes: the catalog's plans keep per-task state bounded
    // (hash aggs over small groups, capped buckets, incremental folds),
    // so they do not spill even at ×10 under a 2 GB heap — these
    // pseudo-queries create the pressure the catalog avoids, proving
    // the degrade-to-spill path itself works in this configuration.
    val forcing: Map[String, (SparkSession, String) =>
        org.apache.spark.sql.DataFrame] = Map(
      // Two tasks each sort half the full lineitem widened to ~600 B
      // rows — per-task sort state far beyond the execution pool.
      "force_sort_wide" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.core.Tables.load(s, dir, "lineitem")
          .withColumn("wide", repeat(concat_ws(",",
            col("l_orderkey"), col("l_partkey"), col("l_extendedprice"),
            col("l_shipdate").cast("string")), 16))
          .repartition(2)
          .sortWithinPartitions("wide", "l_orderkey", "l_linenumber")
      }),
      // Two-task large hash aggregation: near-distinct keys with a wide
      // value, so the hash map grows to the input size and must
      // sort-spill (HashAggregate's fallback path).
      "force_agg_wide" -> ((s, dir) => {
        import org.apache.spark.sql.functions._
        graft.core.Tables.load(s, dir, "lineitem")
          .withColumn("wide", repeat(concat_ws(",",
            col("l_orderkey"), col("l_partkey"), col("l_extendedprice"),
            col("l_shipdate").cast("string")), 16))
          .repartition(2)
          .groupBy("l_orderkey", "l_linenumber")
          .agg(max("wide").as("c"), sum("l_extendedprice").as("p"))
      }))

    val heapMb = Runtime.getRuntime.maxMemory() / (1 << 20)
    var failed = 0
    val lines = names.flatMap { name =>
      SparkEntry.queries.get(name).orElse(forcing.get(name)) match {
        case None =>
          System.err.println(s"[spill] unknown query $name"); failed += 1; None
        case Some(fn) =>
          memSpill.set(0); diskSpill.set(0); peakMem.set(0)
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[spill] $name FAILED: ${e.getClass.getSimpleName} ${e.getMessage}")
              failed += 1; false
            }
          val sec = (System.nanoTime() - t0) / 1e9
          // Listener events are posted async (listenerBus is
          // spark-private); a short sleep drains the queue — spill
          // totals are coarse MB-scale evidence, not precise metrics.
          Thread.sleep(300)
          val line =
            f"""{"query":"$name","ok":$ok,"sec":$sec%.2f,"spill_mem_mb":${memSpill.get / (1 << 20)},"spill_disk_mb":${diskSpill.get / (1 << 20)},"peak_exec_mem_mb":${peakMem.get / (1 << 20)}}"""
          println(line)
          Some(line)
      }
    }
    println(s"""{"summary":true,"heap_mb":$heapMb,"sf":"$sfDir","n":${lines.size},"failed":$failed}""")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }
}
