package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated name prefixes (local iteration only)
    val nameFilter: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(","); n => ps.exists(n.startsWith) }
      else _ => true
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = graft.core.Tables.localSession(cpus).getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.filter(kv => nameFilter(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // builder-persisted intermediates that outlive their lazy result
      // (aspect-match score table) — result is on disk now, safe to drop
      graft.core.CacheLedger.release()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Full catalog-name manifest (INCLUDING rows-only queries that have
    // no oracle entry): check.py validates query-filter prefixes against
    // these names, so a typo'd prefix fails loudly instead of matching a
    // stale result dir from a prior broader run (r11 ADVICE).
    Files.writeString(Paths.get(s"$outDir/queries_all.json"),
      SparkEntry.queries.keys.toSeq.sorted.map(q).mkString("[", ",", "]"))
    // Transcendental probe: GSDMM oracle parity rests on Math.log/exp
    // agreeing bit-for-bit with DuckDB's libm on the inputs the corpus
    // exercises (graft.ml.Gsdmm header). Dump the JVM's ln/exp output
    // bits over a pinned grid spanning that range (count+prior logs
    // 0.1..1e6, negative log-prob exps 0..-700); check.py replays the
    // exact same float64 inputs in DuckDB and bit-compares BEFORE the
    // query diff, so a libm/JDK/arch rounding divergence is diagnosed
    // by name instead of surfacing as an opaque full-output mismatch.
    val lnInputs = Seq(0.1, 0.2, 1.1, 2.1, 3.1, 7.3, 10.1, 25.6, 100.1,
        256.2, 1000.3, 4096.7, 1000000.1) ++
      (1 to 64).map(i => i + 0.1) ++ (1 to 64).map(i => i * i + 0.7)
    val expInputs = Seq(0.0, -0.5, -1.25, -3.7, -700.0) ++
      (0 to 100).map(i => -i * 1.37 - 0.123)
    def bits(d: Double) = java.lang.Double.doubleToLongBits(d).toString
    val probes =
      lnInputs.map(x => s"""{"fn":"ln","x_bits":"${bits(x)}","bits":"${
        bits(math.log(x))}"}""") ++
      expInputs.map(x => s"""{"fn":"exp","x_bits":"${bits(x)}","bits":"${
        bits(math.exp(x))}"}""")
    Files.writeString(Paths.get(s"$outDir/transcendental_probe.json"),
      probes.mkString("[", ",\n ", "]"))
    spark.stop()
  }
}
