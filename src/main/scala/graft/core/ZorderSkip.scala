package graft.core

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Read-side payoff measurement for the Z-order layout (r10 verdict
  * item 3): `pipe_zorder_layout` proves the WRITE side (per-bucket
  * bounding boxes shrink); this module proves the layout actually SKIPS
  * data on a selective two-key range read — the shape of the reference's
  * Power-BI view consumers (migration_015.sql:140-186, date/key-bounded
  * selective scans over the gold tables).
  *
  * Two 64-file layouts of the same lineitem projection are written
  * (range-clustered by Morton z vs by the natural sort key), then a
  * centered ~10%×10% (x, y) box predicate is measured two ways:
  *
  *  1. Parquet FOOTER stats: how many files have ANY row group whose
  *     [min,max] boxes intersect the predicate on BOTH keys — the exact
  *     file set a stats-pruning reader must touch.
  *  2. Executed Spark scans: `numOutputRows` of the parquet scan node —
  *     rows the vectorized reader actually produced after row-group
  *     skipping via the pushed filters (both scans feed the identical
  *     Filter, so the delta IS the skipping).
  *
  * The z layout bounds BOTH keys per file, so it prunes on the
  * two-dimensional box; the natural layout bounds only its sort key and
  * must read ~every file. ZorderSkipSpec asserts the inequality at
  * sf0.001; docs/SCALE.md records the ×10 counts.
  */
object ZorderSkip {

  final case class Result(
      files: Int,
      zFilesNeeded: Int, nFilesNeeded: Int,
      zScanRows: Long, nScanRows: Long,
      selectedRows: Long,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long) {
    def json: String =
      s"""{"files":$files,"z_files_needed":$zFilesNeeded,""" +
        s""""natural_files_needed":$nFilesNeeded,""" +
        s""""z_scan_rows":$zScanRows,"natural_scan_rows":$nScanRows,""" +
        s""""selected_rows":$selectedRows,""" +
        s""""box":[$xLo,$xHi,$yLo,$yHi]}"""
  }

  def run(spark: SparkSession, sfDir: String, files: Int = 64): Result = {
    // Persisted: the projection + Morton interleave otherwise recomputes
    // from the lineitem scan THREE times (two repartitionByRange writes
    // plus the quantile pass) — at the ×10 scale this probe documents,
    // that triples its wall time for no accuracy gain.
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_partkey").as("x"), col("l_suppkey").as("y"))
      .withColumn("z", Morton.interleave16(col("x"), col("y")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val zDir = graft.sources.Sources.scratch(spark, "zorder_skip_z")
    val nDir = graft.sources.Sources.scratch(spark, "zorder_skip_natural")
    // The z write IS "OPTIMIZE ZORDER": range-partition the z codes into
    // `files` contiguous slices, one file each. The natural twin is the
    // same write clustered by the table's own sort key.
    li.repartitionByRange(files, col("z"), col("l_orderkey"),
      col("l_linenumber")).write.parquet(zDir)
    li.repartitionByRange(files, col("l_orderkey"), col("l_linenumber"))
      .write.parquet(nDir)
    // Centered ~10%×10% box on both keys (quantiles, tight epsilon —
    // the assertions are inequalities with margin, not exact counts).
    val q = li.stat.approxQuantile(Array("x", "y"),
      Array(0.45, 0.55), 0.001)
    li.unpersist(false) // both layouts written, quantiles taken
    val (xLo, xHi) = (q(0)(0).toLong, q(0)(1).toLong)
    val (yLo, yHi) = (q(1)(0).toLong, q(1)(1).toLong)
    val (zNeed, zTotal) = filesNeeded(spark, zDir, xLo, xHi, yLo, yHi)
    val (nNeed, nTotal) = filesNeeded(spark, nDir, xLo, xHi, yLo, yHi)
    require(zTotal == nTotal, s"layout file counts differ: $zTotal vs $nTotal")
    val (zRows, sel) = scanRows(spark, zDir, xLo, xHi, yLo, yHi)
    val (nRows, sel2) = scanRows(spark, nDir, xLo, xHi, yLo, yHi)
    require(sel == sel2,
      s"the two layouts disagree on the selected rows: $sel vs $sel2")
    Result(zTotal, zNeed, nNeed, zRows, nRows, sel, xLo, xHi, yLo, yHi)
  }

  /** (files a stats-pruning reader must touch, total files): a file is
    * needed iff ANY of its row groups has [min,max] intersecting the
    * predicate box on BOTH keys. Reads only footers. */
  def filesNeeded(spark: SparkSession, dir: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (Int, Int) = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(dir)
    val hfs = p.getFileSystem(conf)
    val parts = hfs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    var needed = 0
    parts.foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try {
        import scala.jdk.CollectionConverters._
        val blocks = reader.getFooter.getBlocks.asScala
        def range(block: org.apache.parquet.hadoop.metadata.BlockMetaData,
            name: String): (Long, Long) = {
          val c = block.getColumns.asScala
            .find(_.getPath.toDotString == name)
            .getOrElse(sys.error(s"column $name missing in ${f.getName}"))
          val st = c.getStatistics
          require(st != null && !st.isEmpty, s"no stats for $name")
          (st.genericGetMin.asInstanceOf[Number].longValue(),
            st.genericGetMax.asInstanceOf[Number].longValue())
        }
        val hit = blocks.exists { b =>
          val (xmn, xmx) = range(b, "x")
          val (ymn, ymx) = range(b, "y")
          xmn <= xHi && xmx >= xLo && ymn <= yHi && ymx >= yLo
        }
        if (hit) needed += 1
      } finally reader.close()
    }
    (needed, parts.length)
  }

  /** Execute the box read; returns (scan numOutputRows = rows the parquet
    * reader produced AFTER row-group skipping, rows matching the
    * predicate). */
  private def scanRows(spark: SparkSession, dir: String,
      xLo: Long, xHi: Long, yLo: Long, yHi: Long): (Long, Long) = {
    // collect() executes THIS df's plan, so its scan metrics are live
    // afterwards (a count() would execute a separate derived plan and
    // leave these metrics at zero). Projected to one small column; the
    // scan still reads x and y for the pushed filters.
    val df = spark.read.parquet(dir)
      .filter(col("x").between(xLo, xHi) && col("y").between(yLo, yHi))
      .select(col("x"))
    val matching = df.collect().length.toLong
    val scans = graft.PlanBudget.allNodes(df.queryExecution.executedPlan)
      .collect { case s: FileSourceScanExec => s }
    require(scans.nonEmpty, "parquet scan not found in executed plan")
    (scans.map(_.metrics("numOutputRows").value).sum, matching)
  }
}
