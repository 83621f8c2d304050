package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** Old-generation occupancy after an explicit full collection: the heap
  * a pass leaves live (caches, broadcasts, registries), not the garbage it
  * happened to promote. */
object Heap {
  private val oldPool = ManagementFactory.getMemoryPoolMXBeans.asScala
    .find(p => p.getType == MemoryType.HEAP &&
      Seq("Old", "Tenured").exists(p.getName.contains))

  /** Runs a full GC; returns the old generation's occupancy after it, MB.
    * The first collection lets Spark's ContextCleaner (polling every
    * 100 ms) drop the broadcasts and shuffles of dead plans; the second
    * one measures what is left. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    oldPool.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed / 1048576.0)
      .getOrElse(0.0)
  }
}

/** Host context recorded with each run. It is never used to drop, repeat
  * or correct a sample. */
object Context {
  def sample(): Map[String, Any] = {
    val load = try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val self = ProcessHandle.current().pid()
    val jvms = ProcessHandle.allProcesses().iterator().asScala.count { p =>
      p.pid() != self && p.info().command().orElse("").endsWith("/java")
    }
    Map("nproc" -> Runtime.getRuntime.availableProcessors(), "loadavg" -> load,
      "other_jvms" -> jvms)
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  /** Already-encoded JSON. */
  final case class Raw(json: String)

  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case Raw(json) => json
    case null | None => "null"
    case Some(x) => value(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
