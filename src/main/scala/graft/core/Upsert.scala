package graft.core

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's two sink semantics (SURVEY.md §2.2), Spark-native.
  *
  * K1 upsert (reference src/_utils/database.py:140-174: COPY to temp +
  * `INSERT ... ON CONFLICT ON CONSTRAINT pk DO UPDATE`): expressed as a
  * PK-anti-join of existing against incoming followed by a union — the
  * incoming row wins every PK conflict, exactly the ON CONFLICT UPDATE
  * outcome. The anti-join shuffles both sides once on the PK (or
  * broadcasts incoming when it is small — left to AQE), which is the
  * MERGE plan every lakehouse engine runs; no row-at-a-time conflict
  * checks.
  *
  * K2 replace-content (database.py:96-99,158-170: upsert + DELETE of rows
  * absent from the batch): a plain snapshot overwrite.
  *
  * Durability: `upsertWrite` stages the merged result into a sibling
  * directory, moves the live table aside, renames the staged directory in,
  * then deletes the old copy — so a live table directory exists at every
  * instant except the sub-millisecond gap between the two renames (a
  * single filesystem rename is not transactional across two paths; a true
  * zero-gap swap needs a catalog indirection, which is out of scope).
  * A crash mid-swap leaves either the original table or the new one plus
  * a recoverable `.bak-*`; a failed stage write is cleaned up eagerly.
  *
  * Concurrency contract (engine-level, explicit): these sinks assume a
  * SINGLE WRITER per table path — the reference runs its fills from one
  * scheduler for the same reason (luigi task uniqueness). Concurrent
  * readers are safe only per-query-start: a reader that lists the
  * directory entirely before the swap sees the old files, entirely after
  * sees the new ones; a reader whose file listing straddles the rename
  * pair can observe a transient FileNotFoundException (Spark retries the
  * task) or, for the partitioned sink, a mix of old and new PARTITIONS
  * (never a half-written partition — each partition dir flips atomically
  * and is only ever a complete parquet output with its own _SUCCESS-able
  * file set). Readers that need cross-partition snapshot consistency must
  * coordinate externally (catalog/manifest indirection — out of scope
  * here, as it is for the reference's plain-PG tables).
  */
object Upsert {

  /** K1 merge: rows of `existing` whose PK collides with `incoming` are
    * replaced by the incoming row; everything else is kept. */
  def merge(existing: DataFrame, incoming: DataFrame, pk: Seq[String]): DataFrame =
    existing.join(incoming.select(pk.head, pk.tail: _*), pk, "left_anti")
      .unionByName(incoming)

  /** K1 against a parquet table path, with staged swap. */
  def upsertWrite(spark: SparkSession, tablePath: String, incoming: DataFrame,
      pk: Seq[String]): Unit = {
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val merged =
      if (fs.exists(path)) merge(spark.read.parquet(tablePath), incoming, pk)
      else incoming
    swapIn(spark, tablePath, merged)
  }

  /** K2 replace-content: full-snapshot overwrite of the table. */
  def replaceWrite(spark: SparkSession, tablePath: String, snapshot: DataFrame): Unit =
    swapIn(spark, tablePath, snapshot)

  /** K1 at fact scale: upsert into a partitioned table touching ONLY the
    * partitions present in the incoming batch. A daily batch into a
    * date-partitioned 100 TB fact reads and rewrites one partition, not
    * the table: the existing side is scanned with literal partition
    * predicates (static partition pruning — the scan never lists the
    * other partitions' files), and the merged result is staged to a
    * sibling directory and swapped in one touched partition dir at a
    * time — untouched partitions are never rewritten nor at risk, and
    * each touched one is either old, new, or recoverable from `.bak-*`
    * after a crash (same protocol as `upsertWrite`'s whole-table swap).
    *
    * `partCols` must be a subset of `pk`: then a primary key can never
    * move between partitions, which is what makes partition-local merge
    * equal to global merge (the reference's date-keyed snapshot tables
    * all satisfy this, e.g. gomus_daily_entry PK (id, datetime)). The
    * distinct-partition collect is bounded by the number of partitions in
    * the BATCH (daily cadence: a handful), not the table. */
  def upsertWritePartitioned(spark: SparkSession, tablePath: String,
      incoming: DataFrame, pk: Seq[String], partCols: Seq[String]): Unit = {
    require(partCols.nonEmpty && partCols.forall(pk.contains),
      s"partition columns $partCols must be part of the primary key $pk " +
        "(keys must not move between partitions)")
    val path = new Path(tablePath)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) {
      incoming.write.partitionBy(partCols: _*).parquet(tablePath)
      return
    }
    import org.apache.spark.sql.functions.{col, lit}
    val touched = incoming.select(partCols.map(col): _*).distinct().collect()
    if (touched.isEmpty) return
    val prune = touched.map { r =>
      partCols.zipWithIndex
        .map { case (c, i) => col(c) === lit(r.get(i)) }
        .reduce(_ && _)
    }.reduce(_ || _)
    val existing = spark.read.parquet(tablePath).filter(prune)
    val merged = merge(existing, incoming, pk)

    // Stage the merged partitions to a sibling directory, then swap each
    // touched partition dir into the live table with the same protocol
    // as the whole-table swap, applied per partition. The live table is
    // never written in place, so a driver crash at any point leaves every
    // partition either untouched, fully new, or recoverable from its .bak
    // sibling; untouched partitions are never at risk.
    staged(fs, tablePath, merged.write.partitionBy(partCols: _*).parquet(_)) {
      (dir, suffix) =>
        // The staged dirs (not the collected values) are the source of
        // truth for which partition paths to swap — Spark's value-to-path
        // escaping stays internal to Spark.
        partitionDirs(fs, dir, partCols.length).foreach { rel =>
          val live = new Path(tablePath + "/" + rel)
          fs.mkdirs(live.getParent)
          swapDir(fs, new Path(dir + "/" + rel), live, suffix)
        }
    }
  }

  /** Relative `c1=v1/c2=v2/...` paths of the leaf partition dirs `depth`
    * levels under `root`. */
  private def partitionDirs(fs: FileSystem, root: Path,
      depth: Int): Seq[String] = {
    def walk(p: Path, d: Int): Seq[String] =
      if (d == 0) Seq("")
      else fs.listStatus(p).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap { s =>
          walk(s.getPath, d - 1).map { tail =>
            if (tail.isEmpty) s.getPath.getName else s.getPath.getName + "/" + tail
          }
        }
    walk(root, depth)
  }

  /** K3 query-cache sink (reference src/_utils/database.py:300-325:
    * `TRUNCATE` + `INSERT INTO t SELECT …` entirely inside the DBMS so
    * results never round-trip through the client, then `COUNT(*)` as the
    * completion marker): materialize the result to the cache-table path —
    * executors write parquet directly, nothing is collected to the
    * driver — and return the row count of what was actually written
    * (re-read from the files, not recomputed from the plan). */
  def cacheQuery(spark: SparkSession, tablePath: String, result: DataFrame): Long = {
    replaceWrite(spark, tablePath, result)
    spark.read.parquet(tablePath).count()
  }

  /** Write `df` to a staging dir and swap it in for the whole table. */
  private def swapIn(spark: SparkSession, tablePath: String,
      df: DataFrame): Unit = {
    val fs = new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    staged(fs, tablePath, df.write.mode("overwrite").parquet(_)) {
      (dir, suffix) => swapDir(fs, dir, new Path(tablePath), suffix)
    }
  }

  /** Run `write` into a fresh sibling `<tablePath>.staged-<uuid>`, then
    * `swap(stagedDir, uuid)`. The staging dir is gone afterwards whether
    * the write failed, the swap failed, or both succeeded. */
  private def staged(fs: FileSystem, tablePath: String, write: String => Unit)
      (swap: (Path, String) => Unit): Unit = {
    val suffix = java.util.UUID.randomUUID().toString
    val dir = new Path(tablePath + ".staged-" + suffix)
    try { write(dir.toString); swap(dir, suffix) }
    finally fs.delete(dir, true)
  }

  /** The one staged swap: live → `.bak-<suffix>`, `from` → live, delete
    * the `.bak`. Readers see the old data until the instant of the
    * second rename, and the old data survives (as `.bak`) until the new
    * data is in place; a failed rename restores the original before the
    * error surfaces. */
  private def swapDir(fs: FileSystem, from: Path, live: Path,
      suffix: String): Unit = {
    val bak = new Path(live.toString + ".bak-" + suffix)
    val hadOld = fs.exists(live)
    if (hadOld && !fs.rename(live, bak))
      throw new java.io.IOException(s"swap failed moving live aside: $live -> $bak")
    if (!fs.rename(from, live)) {
      if (hadOld) fs.rename(bak, live)
      throw new java.io.IOException(s"swap failed: $from -> $live")
    }
    if (hadOld) fs.delete(bak, true)
  }
}
