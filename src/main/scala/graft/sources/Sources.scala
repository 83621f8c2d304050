package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.types.StructType

/** File-format source scans (SURVEY.md §2.1).
  *
  * The reference ingests CSV reports, paginated REST JSON pages, and small
  * static catalogs (reference: src/_utils/database.py:208-221 typed CSV
  * with per-SQL-type converters; src/facebook.py:82-115 cursor-paged JSON;
  * src/absa/stopwords.py:19-25 / src/german_postal_codes.py:10-28 static
  * catalogs). Here each becomes a declarative `spark.read` so Catalyst
  * keeps pushdown/pruning, and the "converter" layer is ordinary typed
  * schema + column expressions instead of per-cell Python callbacks.
  *
  * Scale notes:
  *  - CSV scans are splittable only when records contain no embedded
  *    newlines (`multiLine` forces one task per file) — which is exactly
  *    why the reference normalizes payloads before its CSV IR (K4); our
  *    writer does the same so reads stay parallel at any file size.
  *  - JSON page files are many small files by construction (one per
  *    cursor); Spark packs them into tasks via files.maxPartitionBytes,
  *    so a million-page capture still scans with bounded task count.
  *  - Static catalogs are dimension tables: always broadcast, never
  *    shuffled.
  */
object Sources {

  /** S1: typed CSV scan — explicit schema (no inference pass), header
    * skipped by name, malformed rows surfaced rather than silently
    * dropped (PERMISSIVE + corrupt-record column is the scan-level
    * equivalent of the reference's converter try/except). */
  def typedCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .csv(path)

  /** S3/S4: scan a directory of captured REST/RSS page files (one JSON
    * object per line/file: `{"cursor": …, "data": [ {record}, … ]}`).
    * Pagination/auth happen at capture time; the engine sees a plain
    * line-delimited JSON scan with an explicit schema, and callers
    * `explode(data)` to flatten records. */
  def jsonPages(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** S9: small static CSV catalog (stopwords, postal codes, language
    * codes) — typed scan + broadcast hint, so every join against it is a
    * map-side BroadcastHashJoin regardless of fact-side size. */
  def staticCatalog(spark: SparkSession, path: String, schema: StructType): DataFrame =
    broadcast(typedCsv(spark, path, schema))

  /** The run's scratch directory `name`, empty: whatever an earlier call
    * left there is deleted first, and its parent exists. Every file a
    * query builder writes (a minted fixture, a table it reads back) goes
    * here, so a rebuild starts from a fresh fixture.
    *
    * The root is `graft/` under `SparkFiles.getRootDirectory()`: the
    * driver-local `userFiles-<uuid>` directory Spark creates per
    * application under `spark.local.dir` and deletes when the context
    * stops. Two applications on one host never share a path; queries
    * built in one application share their names, which holds because no
    * caller builds two queries' fixtures at once.
    *
    * A call wipes the directory, so a spec that inspects a query's files
    * reads their path from the query's plan (a scan's `rootPaths`),
    * never from a second call. */
  def scratch(s: SparkSession, name: String): String = {
    val dir = new java.io.File(scratchRoot(s), name)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
    dir.getParentFile.mkdirs()
    dir.getAbsolutePath
  }

  /** The directory every [[scratch]] directory of `s`'s application sits
    * in. */
  def scratchRoot(s: SparkSession): String =
    new java.io.File(org.apache.spark.SparkFiles.getRootDirectory(), "graft")
      .getAbsolutePath

  /** K4: CSV sink with carriage-return normalization. The reference
    * rewrites `\r\n|\r` → `\n` in every string column before its CSV IR
    * (reference src/_utils/data_preparation.py:56-74 — stray CRs became
    * illegal mid-record line breaks in the file intermediate). Same
    * transform here, as a codegen `regexp_replace` over the string
    * columns, then a plain parallel CSV write (embedded LFs are quoted
    * by the writer; CRs are gone, which is what keeps downstream
    * line-oriented consumers of the emitted files honest). */
  def writeCsvNormalized(df: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.{col, regexp_replace}
    import org.apache.spark.sql.types.StringType
    val fixed = df.schema.fields.foldLeft(df) {
      case (d, f) if f.dataType == StringType =>
        d.withColumn(f.name, regexp_replace(col(f.name), "\r\n|\r", "\n"))
      case (d, _) => d
    }
    fixed.write.mode("overwrite").option("header", "true").csv(path)
  }
}
