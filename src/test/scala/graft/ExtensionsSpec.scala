package graft

/** The two routes that install graft into a session.
  *
  * The cluster deployment route — `spark.sql.extensions=
  * graft.functions.GraftExtensions` with no programmatic registration —
  * must provide every custom function, both optimizer rules, and the
  * TopK planner strategy. Extensions are applied at SparkContext +
  * session creation, so a spec sharing the process-wide test
  * SparkContext cannot exercise config-only registration; instead this
  * forks [[graft.ExtensionsCheck]] in a fresh JVM with the same
  * classpath and JDK-17 opens and asserts it passes.
  *
  * The programmatic route, `GraftFunctions.register`, runs before every
  * catalog query, so it must be idempotent. */
class ExtensionsSpec extends SparkSpec {

  test("a second GraftFunctions.register changes nothing in the session") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    import graft.functions.GraftFunctions
    val s = spark.newSession()
    GraftFunctions.register(s)
    val reg = s.sessionState.functionRegistry
    def entries() = GraftFunctions.builders.map { case (name, _) =>
      val id = FunctionIdentifier(name)
      (name, reg.lookupFunctionBuilder(id).get, reg.lookupFunction(id).get)
    }
    def lengths() =
      (s.experimental.extraOptimizations.length, s.experimental.extraStrategies.length)
    val (before, lengthsBefore) = (entries(), lengths())
    assert(lengthsBefore ==
      (GraftFunctions.rules.length, GraftFunctions.strategies.length))
    GraftFunctions.register(s)
    entries().zip(before).foreach { case ((name, b, info), (_, b0, info0)) =>
      assert((b eq b0) && (info eq info0), s"$name was registered again")
    }
    assert(lengths() == lengthsBefore)
  }

  test("config-only GraftExtensions session passes ExtensionsCheck (fresh JVM)") {
    val javaBin = new java.io.File(
      new java.io.File(sys.props("java.home"), "bin"), "java").getAbsolutePath
    val opens = Seq(
      "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
      "java.net", "java.nio", "java.util", "java.util.concurrent",
      "java.util.concurrent.atomic"
    ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED") ++ Seq(
      "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"
    ).map(p => s"--add-opens=java.base/$p=ALL-UNNAMED")
    val cmd = Seq(javaBin) ++ opens ++ Seq(
      "-Xmx2g", "-cp", sys.props("java.class.path"),
      "graft.ExtensionsCheck")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes())
    val rc = proc.waitFor()
    assert(rc == 0, s"ExtensionsCheck failed (rc=$rc):\n${out.takeRight(4000)}")
    assert(out.contains("[extcheck] OK"), s"missing OK marker:\n${out.takeRight(2000)}")
  }
}
