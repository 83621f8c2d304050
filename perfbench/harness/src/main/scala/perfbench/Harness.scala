package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.SQLExecution

/** One benchmark run in one JVM, driven by `perfbench/run.py`.
  *
  * 1. Set-up, once and cold, as a cron-started run pays it: session
  *    start, function registration, first touch of every input table and,
  *    for the hourly workload, seeding the live orders table with
  *    `Upsert.upsertWrite`.
  * 2. First pass: every operation once, cold. Query results are written as
  *    parquet in `graft.Verify`'s layout so `scripts/check.py` can grade
  *    them against the DuckDB oracle; their digests are read back from the
  *    written files.
  * 3. Steady-state passes until `seconds` have elapsed. Each query runs
  *    its whole plan into an order-independent digest sink and must match
  *    its first-pass digest. Each micro-batch lands one file and merges it
  *    with `Incremental.runAvailableNowUpsert`; the live table must then
  *    match the checksum the generator computed.
  *
  * Before every timed operation the ledger, Spark's cache manager and any
  * persisted RDD are released, and the harness asserts they are empty, so
  * a repeat always runs its plan instead of reading a cached result. The
  * checks run after an operation's trace window has closed, so a traced
  * run charges none of their jobs to the operation.
  *
  * Arguments are `key=value` pairs; the raw per-operation samples go to
  * the JSON file named by `out`.
  */
object Harness {
  final case class Op(id: Int, pass: Int, kind: String, name: String,
      traced: Boolean, seconds: Double, ok: Boolean, rows: Long, cacheFrames: Int,
      error: String)

  def main(argv: Array[String]): Unit = {
    val mainAt = System.currentTimeMillis()
    val conf = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = Runtime.getRuntime.availableProcessors()
    val tables = conf("tables")
    val work = Paths.get(conf("work")).toAbsolutePath
    val queries = conf("queries").split(",").filter(_.nonEmpty).toSeq
    val seconds = conf("seconds").toDouble
    val trace = conf("trace") == "1"
    // a traced run alternates untraced and traced passes: two of each
    val minPasses = if (trace) 4 else 3
    val batchFiles: Seq[Path] = conf.get("batches").toSeq.flatMap { d =>
      Files.list(Paths.get(d)).iterator().asScala.toSeq.sortBy(_.getFileName.toString)
    }
    val batchesPerPass = conf.getOrElse("batches_per_pass", "0").toInt
    val checksums: IndexedSeq[Seq[Long]] = conf.get("checksums").toIndexedSeq.flatMap { f =>
      Files.readAllLines(Paths.get(f)).asScala.map(_.trim.split("\\s+").toSeq.map(_.toLong))
    }
    val hourly = dir(work.resolve("hourly"))
    val live = hourly.resolve("live").toString

    def phase(name: String): Unit =
      println(f"[harness] ${(System.currentTimeMillis() - mainAt) / 1e3}%8.3f s  $name")

    // --- 1. set-up, cold ------------------------------------------------
    val setupAt = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", dir(work.resolve("spark-local")).toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // Spark's status store keeps up to 1000 jobs and executions by
      // default; a small cap makes its share of the live heap reach its
      // plateau within the first pass.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "10")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    graft.core.Tables.names.foreach { n =>
      val df = if (n == "events") graft.core.Tables.events(spark, tables)
               else graft.core.Tables.load(spark, tables, n)
      df.write.format("noop").mode("overwrite").save()
    }
    if (batchFiles.nonEmpty) {
      graft.core.Upsert.upsertWrite(spark, live,
        graft.core.Tables.load(spark, tables, "orders"), Seq("o_orderkey"))
    }
    val setupSeconds = (System.nanoTime() - setupAt) / 1e9
    val sc = spark.sparkContext
    val tracer = if (trace) Some(new Tracer(spark)) else None
    val landing = dir(hourly.resolve("landing"))
    val checkpoint = hourly.resolve("checkpoint").toString
    val results = dir(work.resolve("results"))

    /** Release every cache a builder may leave behind and assert that the
      * next operation starts from none. Returns the frames released. */
    def releaseCaches(): Int = {
      val frames = graft.core.CacheLedger.size + sc.getPersistentRDDs.size
      // blocking first, so the memory is free before the next operation
      sc.getPersistentRDDs.values.foreach(_.unpersist(true))
      graft.core.CacheLedger.release()
      spark.catalog.clearCache()
      require(graft.core.CacheLedger.size == 0 && sc.getPersistentRDDs.isEmpty &&
        spark.sharedState.cacheManager.isEmpty, "caches are not empty")
      frames
    }

    val ops = ArrayBuffer.empty[Op]
    val heapMb = ArrayBuffer.empty[Double]
    val firstDigest = scala.collection.mutable.Map.empty[String, (Long, Long)]
    var nextBatch = 0

    /** A timed operation and the harness's check of its output, which
      * runs once the operation's trace window has closed. */
    type Timed = (Op, () => Boolean)
    val noCheck = () => true

    def timeQuery(id: Int, pass: Int, name: String, traced: Boolean): Timed = {
      val q = graft.queries.Catalog.byName(name)
      val t0 = System.nanoTime()
      try {
        val df = q.spark(spark, tables)
        val tb = System.nanoTime()
        val ok = if (pass == 0) {
          df.write.mode("overwrite").parquet(results.resolve(name).toString)
          true
        } else digest(df) == firstDigest(name)
        val t1 = System.nanoTime()
        tracer.foreach(_.opSpans(id, name, t0, tb, t1))
        val check = if (pass > 0) noCheck else () => {
          firstDigest(name) = digest(spark.read.parquet(results.resolve(name).toString))
          true
        }
        (Op(id, pass, "query", name, traced, (t1 - t0) / 1e9, ok, 0L, releaseCaches(), ""),
          check)
      } catch { case e: Throwable =>
        (Op(id, pass, "query", name, traced, (System.nanoTime() - t0) / 1e9, ok = false, 0L,
          releaseCaches(), String.valueOf(e.getMessage)), noCheck)
      }
    }

    def timeBatch(id: Int, pass: Int, traced: Boolean): Timed = {
      val i = nextBatch
      nextBatch += 1
      val src = batchFiles(i)
      val name = src.getFileName.toString
      // Land the file atomically: the stream lists only complete files.
      val staged = landing.resolve("." + name)
      Files.copy(src, staged, StandardCopyOption.REPLACE_EXISTING)
      Files.move(staged, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      val schema = spark.read.parquet(src.toString).schema
      val t0 = System.nanoTime()
      try {
        val stream = graft.core.Tables.normalizeNtz(
          spark.readStream.schema(schema).parquet(landing.toString))
        val query = graft.streaming.Incremental.runAvailableNowUpsert(
          stream, checkpoint, live, Seq("o_orderkey"))
        query.awaitTermination()
        val t1 = System.nanoTime()
        val rows = query.recentProgress.map(_.numInputRows).sum
        tracer.foreach(_.opSpans(id, name, t0, t0, t1))
        (Op(id, pass, "batch", name, traced, (t1 - t0) / 1e9, ok = true, rows, releaseCaches(), ""),
          () => i < checksums.size && ordersChecksum(spark.read.parquet(live)) == checksums(i))
      } catch { case e: Throwable =>
        (Op(id, pass, "batch", name, traced, (System.nanoTime() - t0) / 1e9, ok = false, 0L,
          releaseCaches(), String.valueOf(e.getMessage)), noCheck)
      }
    }

    def runPass(pass: Int, traced: Boolean): Unit = {
      tracer.foreach(_.on = traced)
      (Seq.fill(batchesPerPass)(None) ++ queries.map(Some(_))).foreach { q =>
        val id = ops.size
        releaseCaches()
        sc.setLocalProperty(Tracer.OpKey, id.toString)
        tracer.foreach(_.op = id)
        val (op, check) = q match {
          case Some(name) => timeQuery(id, pass, name, traced)
          case None => timeBatch(id, pass, traced)
        }
        // close the trace window before the check's own jobs run
        sc.setLocalProperty(Tracer.OpKey, null)
        tracer.foreach { t => t.drain(); t.op = -1 }
        val checked = try check() catch { case _: Throwable => false }
        tracer.foreach(_.drain())
        ops += (if (op.ok && !checked) op.copy(ok = false, error = "output check failed") else op)
      }
      tracer.foreach(_.on = false)
      heapMb += Heap.liveMb()
      phase(f"pass $pass done, old generation after full GC ${heapMb.last}%.1f MB")
    }

    // --- 2. first pass, cold --------------------------------------------
    phase("set-up done")
    val context = Context.sample()
    runPass(0, traced = false)
    phase("first pass done")
    // graft.Verify's layout, restricted to this workload, for scripts/check.py
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.value(graft.SparkEntry.oracleSql.filter(kv => queries.contains(kv._1))))
    Files.writeString(results.resolve("queries_all.json"), Json.value(queries))
    // --- 3. steady state ------------------------------------------------
    val t0 = System.nanoTime()
    var pass = 1
    def batchesLeft = nextBatch + batchesPerPass <= batchFiles.size
    while ((pass <= minPasses || (System.nanoTime() - t0) / 1e9 < seconds) &&
        (batchesPerPass == 0 || batchesLeft)) {
      // untraced, traced, traced, untraced, ...: a drift across the run
      // (JIT still warming) cancels out of the tracing overhead
      runPass(pass, traced = trace && pass % 4 >= 2)
      pass += 1
    }

    phase("steady passes done")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = Json.obj(
      "jvm_to_main_s" -> (mainAt - jvmStart) / 1e3,
      "setup_s" -> setupSeconds,
      "old_after_gc_mb" -> heapMb.toSeq,
      "context" -> context,
      "ops" -> ops.toSeq.map { o =>
        Json.obj("id" -> o.id, "pass" -> o.pass, "kind" -> o.kind, "name" -> o.name,
          "traced" -> o.traced, "seconds" -> o.seconds, "ok" -> o.ok, "rows" -> o.rows, "cache_frames" -> o.cacheFrames,
          "error" -> o.error,
          "counters" -> tracer.map(_.counters(o.id)).getOrElse(Map.empty))
      },
      "spans" -> tracer.map(_.spanJson).getOrElse(Nil))
    Files.writeString(Paths.get(conf("out")), out.json)
    spark.stop()
    phase("stopped")
  }

  /** Order-independent digest (row count, sum of row hashes) of a frame's
    * complete result. The whole physical plan runs, root sort included;
    * only the sink differs from a parquet write. */
  def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        val proj = UnsafeProjection.create(schema)
        var n = 0L
        var h = 0L
        it.foreach { r =>
          val u = proj(r)
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
          n += 1
        }
        Iterator((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  /** The checksum `perfbench/gen.py` computes for the expected live table. */
  def ordersChecksum(df: DataFrame): Seq[Long] = {
    val r = df.selectExpr("count(*)", "sum(o_orderkey)",
      "sum(o_custkey * 7 + ascii(o_orderstatus))",
      "sum(cast(round(o_totalprice * 100) as bigint))",
      "sum(datediff(to_date(o_orderdate), date'1995-01-01'))").head()
    (0 until 5).map(i => r.getAs[Number](i).longValue())
  }

  def dir(p: Path): Path = Files.createDirectories(p)
}
