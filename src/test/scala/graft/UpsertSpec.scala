package graft

import graft.core.Upsert

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  test("merge: incoming wins PK conflicts, existing survivors kept") {
    val existing = Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v")
    val incoming = Seq((2, "B2"), (4, "d")).toDF("id", "v")
    val merged = Upsert.merge(existing, incoming, Seq("id"))
      .as[(Int, String)].collect().sortBy(_._1)
    assert(merged.toSeq === Seq((1, "a"), (2, "B2"), (3, "c"), (4, "d")))
  }

  test("merge with composite PK") {
    val existing = Seq((1, "x", 10), (1, "y", 20)).toDF("k1", "k2", "v")
    val incoming = Seq((1, "y", 99)).toDF("k1", "k2", "v")
    val merged = Upsert.merge(existing, incoming, Seq("k1", "k2"))
      .as[(Int, String, Int)].collect().sortBy(r => (r._1, r._2))
    assert(merged.toSeq === Seq((1, "x", 10), (1, "y", 99)))
  }

  test("upsertWrite: creates, merges, swaps atomically; replaceWrite overwrites") {
    val dir = scratchDir("graft-upsert")
    val table = s"$dir/t"
    Upsert.upsertWrite(spark, table, Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
    Upsert.upsertWrite(spark, table, Seq((2, "B2"), (3, "c")).toDF("id", "v"), Seq("id"))
    val after = spark.read.parquet(table).as[(Int, String)].collect().sortBy(_._1)
    assert(after.toSeq === Seq((1, "a"), (2, "B2"), (3, "c")))
    Upsert.replaceWrite(spark, table, Seq((9, "z")).toDF("id", "v"))
    val replaced = spark.read.parquet(table).as[(Int, String)].collect()
    assert(replaced.toSeq === Seq((9, "z")))
  }

  test("upsertWritePartitioned: merges only touched partitions, " +
      "untouched partition files are not rewritten") {
    val dir = scratchDir("graft-upsert-part")
    val table = s"$dir/t"
    val base = Seq(
      ("2020-01-01", 1, "a"), ("2020-01-01", 2, "b"),
      ("2020-01-02", 3, "c"), ("2020-01-03", 4, "d"))
      .toDF("day", "id", "v")
    Upsert.upsertWritePartitioned(spark, table, base,
      Seq("day", "id"), Seq("day"))
    def partFiles(day: String): Map[String, Long] = {
      val d = new java.io.File(s"$table/day=$day")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before01 = partFiles("2020-01-01")
    val before03 = partFiles("2020-01-03")
    assert(before01.nonEmpty && before03.nonEmpty)
    // batch touches only 2020-01-02: one PK update, one insert
    Upsert.upsertWritePartitioned(spark, table,
      Seq(("2020-01-02", 3, "C2"), ("2020-01-02", 5, "e"))
        .toDF("day", "id", "v"),
      Seq("day", "id"), Seq("day"))
    val after = spark.read.parquet(table)
      .select("day", "id", "v").as[(String, Int, String)]
      .collect().sortBy(r => (r._1, r._2))
    assert(after.toSeq === Seq(
      ("2020-01-01", 1, "a"), ("2020-01-01", 2, "b"),
      ("2020-01-02", 3, "C2"), ("2020-01-02", 5, "e"),
      ("2020-01-03", 4, "d")))
    // untouched partitions: identical files, identical mtimes — the
    // second upsert never rewrote them
    assert(partFiles("2020-01-01") === before01)
    assert(partFiles("2020-01-03") === before03)
    // partition column outside the PK must be rejected (keys could move
    // between partitions and the partition-local merge would be wrong)
    val ex = intercept[IllegalArgumentException] {
      Upsert.upsertWritePartitioned(spark, table, base, Seq("id"), Seq("day"))
    }
    assert(ex.getMessage.contains("primary key"))
  }

  test("failed stage write leaves the live table intact, no stray dirs") {
    val dir = scratchDir("graft-upsert-crash")
    val table = s"$dir/t"
    Upsert.upsertWrite(spark, table,
      Seq((1, "a"), (2, "b")).toDF("id", "v"), Seq("id"))
    // incoming whose evaluation throws mid-write (executor-side failure)
    val bomb = org.apache.spark.sql.functions.udf((i: Int) =>
      if (i > 0) throw new RuntimeException("boom") else i)
    val poisoned = Seq((3, "c")).toDF("id", "v")
      .withColumn("id", bomb($"id"))
    intercept[Exception] {
      Upsert.upsertWrite(spark, table, poisoned, Seq("id"))
    }
    // live table untouched, staging/backup cleaned up
    val after = spark.read.parquet(table).as[(Int, String)].collect().sorted
    assert(after.toSeq === Seq((1, "a"), (2, "b")))
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_ == "t")
    assert(leftovers.isEmpty, s"stray dirs: ${leftovers.mkString(",")}")
  }

  test("upsertWritePartitioned: failed stage write leaves live table and " +
      "all partitions intact, no stray dirs") {
    val dir = scratchDir("graft-upsert-part-crash")
    val table = s"$dir/t"
    Upsert.upsertWritePartitioned(spark, table,
      Seq(("a", 1, "x"), ("b", 2, "y")).toDF("p", "id", "v"),
      Seq("p", "id"), Seq("p"))
    val bomb = org.apache.spark.sql.functions.udf((i: Int) =>
      if (i > 0) throw new RuntimeException("boom") else i)
    val poisoned = Seq(("a", 3, "z")).toDF("p", "id", "v")
      .withColumn("id", bomb($"id"))
    intercept[Exception] {
      Upsert.upsertWritePartitioned(spark, table, poisoned, Seq("p", "id"), Seq("p"))
    }
    val after = spark.read.parquet(table).select("p", "id", "v")
      .as[(String, Int, String)].collect().sortBy(_._2)
    assert(after.toSeq === Seq(("a", 1, "x"), ("b", 2, "y")))
    val leftovers = new java.io.File(dir).listFiles().map(_.getName)
      .filterNot(_ == "t")
    assert(leftovers.isEmpty, s"stray dirs: ${leftovers.mkString(",")}")
    val inTable = new java.io.File(table).listFiles().map(_.getName)
      .filter(n => n.contains(".bak-") || n.contains(".staged-"))
    assert(inTable.isEmpty, s"stray swap dirs in table: ${inTable.mkString(",")}")
  }

  test("upsertWritePartitioned: multi-level partitioning swaps leaf dirs") {
    val dir = scratchDir("graft-upsert-part2")
    val table = s"$dir/t"
    val base = Seq(
      ("2020", "jan", 1, "a"), ("2020", "feb", 2, "b"), ("2021", "jan", 3, "c"))
      .toDF("y", "m", "id", "v")
    Upsert.upsertWritePartitioned(spark, table, base,
      Seq("y", "m", "id"), Seq("y", "m"))
    def mtimes(rel: String): Map[String, Long] = {
      val d = new java.io.File(s"$table/$rel")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = mtimes("y=2020/m=feb")
    Upsert.upsertWritePartitioned(spark, table,
      Seq(("2020", "jan", 1, "A2"), ("2021", "feb", 4, "d")).toDF("y", "m", "id", "v"),
      Seq("y", "m", "id"), Seq("y", "m"))
    val after = spark.read.parquet(table).select("y", "m", "id", "v")
      .as[(String, String, Int, String)].collect().sortBy(_._3)
    assert(after.toSeq === Seq(
      ("2020", "jan", 1, "A2"), ("2020", "feb", 2, "b"),
      ("2021", "jan", 3, "c"), ("2021", "feb", 4, "d")))
    assert(mtimes("y=2020/m=feb") === before,
      "untouched leaf partition was rewritten")
  }

  test("mid-swap reader view: partitions flip atomically — a straddling " +
      "reader sees complete partitions only, never a half-written one") {
    // Construct the documented mid-swap window by hand: one touched
    // partition moved aside to .bak, its replacement not yet renamed in.
    val dir = scratchDir("graft-upsert-midswap")
    val table = s"$dir/t"
    Upsert.upsertWritePartitioned(spark, table,
      Seq(("a", 1, "x"), ("b", 2, "y")).toDF("p", "id", "v"),
      Seq("p", "id"), Seq("p"))
    val live = new java.io.File(s"$table/p=a")
    val bak = new java.io.File(s"$dir/outside-bak") // parked outside the table
    assert(live.renameTo(bak))
    // A reader listing the root in this window: the in-flight partition is
    // simply absent; every partition it does see is a complete parquet dir.
    val view = spark.read.parquet(table).select("p", "id", "v")
      .as[(String, Int, String)].collect()
    assert(view.toSeq === Seq(("b", 2, "y")))
    assert(bak.renameTo(live)) // swap completes; full view restored
    val full = spark.read.parquet(table).select("p", "id", "v")
      .as[(String, Int, String)].collect().sortBy(_._2)
    assert(full.toSeq === Seq(("a", 1, "x"), ("b", 2, "y")))
  }

  test("upsertWritePartitioned: existing-side scan is partition-pruned") {
    val dir = scratchDir("graft-upsert-prune")
    val table = s"$dir/t"
    Upsert.upsertWritePartitioned(spark, table,
      Seq(("a", 1, 10), ("b", 2, 20), ("c", 3, 30)).toDF("p", "id", "v"),
      Seq("p", "id"), Seq("p"))
    // the pruned read the merge performs, reconstructed for plan audit
    import org.apache.spark.sql.functions.col
    val pruned = spark.read.parquet(table).filter(col("p") === "b")
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    val s = scan.toString
    assert(s.contains("PartitionFilters") && s.contains("isnotnull(p"),
      s"expected partition filters in scan:\n$s")
    // post-pruning scan metric: only the touched partition's files read
    assert(scan.metrics("numFiles").value === 1,
      "pruned scan must read only the touched partition's files")
  }
}
