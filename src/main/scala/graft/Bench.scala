package graft

import org.apache.spark.sql.SparkSession

/** Benchmark entry — one JSON line with per-query wall seconds.
  *
  * Each query is forced through a `noop` sink so the full plan (all
  * columns, all operators) executes; `count()` would let Catalyst prune
  * most of the work and flatter the numbers.
  */
object Bench {

  /** Co-tenancy signal: a second Spark JVM sharing these cores inflates
    * every number 1.5-2.5x (the r5 post-round artifact was polluted
    * exactly this way and had to be forensically discarded). Sampled at
    * start and end of the timed region AND around every query (the r6
    * start/end-only stamp could call a run clean while a transient
    * co-tenant landed mid-run). Returns (1-min loadavg, other java JVMs,
    * other SPARK/graft JVMs). The loadavg is stamped, never thresholded:
    * it includes the bench's own work and the decaying load of whatever
    * ran just before, so only a co-tenant Spark JVM marks contention.
    *
    * JVMs are recognized by the `/proc/<pid>/exe` symlink (basename
    * `java`), NOT by grepping the cmdline blob: any process whose
    * argument text merely MENTIONS java/graft (an editor, a shell
    * carrying a prompt, a log tailer) would otherwise count as a
    * co-tenant Spark JVM — the r6 stamp had exactly that false
    * positive. Spark classification then looks at the real argv tokens:
    * a `graft.*` main class or a Spark jar/class path. */
  private def cotenancy(): (Double, Int, Int) = {
    val load =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg"))).split("\\s+")(0).toDouble
      catch { case _: Throwable =>
        java.lang.management.ManagementFactory
          .getOperatingSystemMXBean.getSystemLoadAverage
      }
    val self = ProcessHandle.current().pid()
    var javas = 0
    var sparks = 0
    try {
      import scala.jdk.CollectionConverters._
      val it = java.nio.file.Files.list(java.nio.file.Paths.get("/proc"))
      try it.iterator().asScala
        .filter(_.getFileName.toString.forall(_.isDigit))
        .foreach { p =>
          try {
            if (p.getFileName.toString.toLong != self) {
              val exe =
                try java.nio.file.Files.readSymbolicLink(p.resolve("exe"))
                  .getFileName.toString
                catch { case _: Throwable => "" }
              if (exe == "java") {
                javas += 1
                val argv = new String(java.nio.file.Files.readAllBytes(
                  p.resolve("cmdline"))).split('\u0000')
                if (argv.exists(a => a.startsWith("graft.") ||
                    a.contains("org.apache.spark") || a.contains("spark/jars")))
                  sparks += 1
              }
            }
          } catch { case _: Throwable => }
        }
      finally it.close()
    } catch { case _: Throwable => javas = -1; sparks = -1 }
    (load, javas, sparks)
  }

  /** Queries surfaced by name in the compact stdout line. One per major
    * family, biased toward the BASELINE.md workload analogs (ABSA match,
    * fuzzy join, regex theta join, postal cleansing, daily DAG) plus the
    * heaviest scale-sensitive operators (minhash/containment dedup, ANN,
    * graph, market basket). The FULL per-query map lives in the
    * BENCH_DETAIL sidecar — the stdout line must stay under the driver's
    * ~2000-char tail capture (the r8 artifact had parsed:null because the
    * full 225-query map truncated mid-object). */
  private val headline = Seq(
    "agg_pricing_summary", "pipe_absa_sentiment", "pipe_aspect_match",
    "pipe_fill_db_daily",
    "pipe_customer_gold", "join_fuzzy_levenshtein", "join_theta_regex",
    "scalar_postal_cleanse", "dedup_minhash_lsh", "dedup_containment_minhash",
    "dedup_image_phash", "sim_ann_ivf", "sim_ann_bruteforce", "ml_pagerank",
    "ml_link_prediction", "agg_market_basket", "text_bpe_encode",
    "text_quality_score", "pipe_multimodal_audio", "window_topk_per_group",
    "ml_gsdmm_topics")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val gateMode = args.contains("--gate")
    // Driver contract: bench runs at local[32].
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")
    // Heap warm-up: fault the whole fixed-size heap in with one parallel
    // pass. This host zeroes fresh pages ~100x slower than normal hardware;
    // an untimed 32-way touch here keeps that one-off cost out of the
    // timed queries (and out of single-task stages, where it would
    // serialize). Allocation pressure cycles eden through all its pages.
    locally {
      val n = cpus.toInt
      val perSlot = Runtime.getRuntime.maxMemory() / n
      spark.sparkContext.parallelize(1 to n, n).foreach { _ =>
        var kept: Array[Byte] = null
        var done = 0L
        while (done < perSlot) {
          val a = new Array[Byte](1 << 20)
          var i = 0
          while (i < a.length) { a(i) = 1; i += 4096 }
          kept = a
          done += a.length
        }
        if (kept(0) == 2) throw new IllegalStateException("unreachable")
      }
    }
    // Per-table first-touch: read EVERY fixture table once (all columns)
    // before timing. Single-row-group tables (events) scan as one task; a
    // cold page-cache read there lands multi-second IO stalls inside
    // whichever query touches the table first — r2 recorded 5-12x
    // "regressions" on unchanged single-pass events plans this way.
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { name =>
      try {
        val df = if (name == "events") graft.core.Tables.events(spark, sfDir)
                 else graft.core.Tables.load(spark, sfDir, name)
        df.write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
    }
    // JVM/codegen warm-up outside the timed region: touch every hot code
    // path (parquet scan, hash agg, shuffle, window, regex, broadcast
    // join) so the timed queries measure the plan, not C2 compilation.
    Seq("agg_pricing_summary", "window_topk_per_group", "join_multiway_broadcast",
        "text_fingerprint", "set_union_dedup").foreach { name =>
      SparkEntry.queries.get(name).foreach { fn =>
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => }
      }
    }
    // Optional comma-separated filter (args or env) for timing single
    // queries in a fresh JVM while iterating.
    val only = args.filterNot(_.startsWith("--")).headOption
      .orElse(sys.env.get("SPARK_GRAFT_ONLY"))
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(f) => SparkEntry.queries.filter { case (n, _) => f(n) }
      case None => SparkEntry.queries
    }
    val (loadStart, jvmStart, sparkStart) = cotenancy()
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val contendedQueries = scala.collection.mutable.LinkedHashSet.empty[String]
    val perQueryLoad = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timeOne(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        failed += name
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
      }
      (System.nanoTime() - t0) / 1e9
    }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      // Every query is timed at least twice: the FIRST execution carries
      // one-off costs (parquet footer reads, broadcast builds, codegen
      // compilation for this plan shape) — that is the "cold" number; the
      // warm number is the min of the repeats. Reporting both keeps
      // round-over-round comparisons from conflating the two (cold-only
      // was the r2 artifact; warm-only hid cold costs in r3). This VM also
      // takes multi-second scheduler stalls at random moments, so a
      // suspicious warm repeat (>2 s) gets one extra execution and the
      // repeat-min is reported as warm.
      // Per-query contention sample (verdict r6 item 3): the start/end
      // stamp under-samples — a transient co-tenant can land mid-run and
      // leave the artifact marked clean. One /proc walk before and after
      // the query's runs (~1 ms each) localizes which queries shared the
      // host with another Spark JVM.
      val (qLoad, _, qSparks) = cotenancy()
      val cold = timeOne(name, fn)
      val second = timeOne(name, fn)
      val repeats =
        if (second > 2.0) Seq(second, timeOne(name, fn)) else Seq(second)
      val warm = repeats.min
      val runs = cold +: repeats
      val (qLoad2, _, qSparks2) = cotenancy()
      if (math.max(qSparks, qSparks2) > 0) contendedQueries += name
      perQueryLoad(name) = math.max(qLoad, qLoad2)
      // Untimed row count (plan re-executes column-pruned; not part of
      // the reported seconds) — lets the artifact distinguish "plan got
      // slower" from "plan produced different work".
      val rows = try fn(spark, sfDir).count() catch { case _: Throwable => failed += name; -1L }
      // Ledger-tracked persists (aspect-match score table, the DBSCAN
      // distinct-vector frame) outlive their lazy builders; without this
      // per-query release a full bench session accumulates one persisted
      // copy per distinct plan and later queries time against squatted
      // executor memory. Safe here: every run of this query has
      // materialized (noop sink + count).
      graft.core.CacheLedger.release()
      System.err.println(
        f"[bench] $name%-28s cold $cold%8.2f s  warm $warm%8.2f s  rows=$rows")
      (name, cold, warm, runs, rows)
    }
    // Full per-query detail (every repeat + row count) goes to a sidecar
    // file; stdout carries only the compact one-line summary the driver
    // captures (its tail window truncated the r2 line — keep it short and
    // make it the LAST line printed).
    val detail = results.map { case (name, _, _, runs, rows) =>
      val rs = runs.map(r => f"$r%.3f").mkString("[", ",", "]")
      val ld = f"${perQueryLoad.getOrElse(name, -1.0)}%.1f"
      val ct = contendedQueries.contains(name)
      s""""$name":{"runs":$rs,"rows":$rows,"load":$ld,"contended":$ct}"""
    }.mkString("{", ",", "}")
    val detailPath = sys.env.getOrElse("SPARK_GRAFT_DETAIL", "BENCH_DETAIL.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(detailPath),
      s"""{"sf":"$sfDir","detail":$detail}""")
    catch { case e: Throwable => System.err.println(s"[bench] detail write failed: $e") }
    // Stdout tail JSON is COMPACT by design: the driver captures only the
    // last ~2000 chars of stdout, and the full 225-query warm+cold maps
    // blew that window (BENCH_r08 landed parsed:null). "queries" carries
    // the ~20 headline operators; "families" carries per-prefix warm
    // totals (agg/join/dedup/...) so the whole catalog is still summarized
    // in-band; the complete per-query detail (every repeat, rows, load,
    // contention flag) is in the BENCH_DETAIL sidecar named by "detail".
    val warmByName = results.map { case (k, _, w, _, _) => k -> w }.toMap
    val qs = headline.filter(warmByName.contains)
      .map(k => "\"" + k + "\":" + f"${warmByName(k)}%.2f")
      .mkString("{", ",", "}")
    val families = results.groupBy(_._1.takeWhile(_ != '_'))
      .toSeq.sortBy(_._1)
      .map { case (fam, rs) => "\"" + fam + "\":" + f"${rs.map(_._3).sum}%.1f" }
      .mkString("{", ",", "}")
    val total = results.map(_._3).sum
    val coldTotal = results.map(_._2).sum
    val errs = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Co-tenancy stamp: numbers from a contended run (another Spark JVM
    // alive at start, at end, or around any query) must carry the
    // evidence in-band — a reader comparing rounds checks this flag
    // before reading the seconds.
    val (loadEnd, jvmEnd, sparkEnd) = cotenancy()
    val contended = sparkStart > 0 || sparkEnd > 0 || contendedQueries.nonEmpty
    // contended_n carries the TRUE count — the name list is capped at 20
    // to protect the tail-capture budget, and a capped list without the
    // count would read as the full set.
    val cq = contendedQueries.toSeq.take(20).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // Run-level self-proof against the committed clean baseline (r9
    // verdict item 3): a capture whose total warm over the queries both
    // runs share exceeds the baseline sum by >15% stamps degraded:true
    // in-band, even if no individual query was flagged contended.
    // Filtered runs with <20 common queries stamp null (not comparable:
    // single-query noise would dominate the 15% band), and so does a run
    // at another sf than the baseline's (every query would read as a
    // regression at a larger sf).
    val basePath = sys.env.getOrElse("SPARK_GRAFT_GATE_BASELINE",
      "docs/BENCH_BASELINE.json")
    val (baseline, declaredN, baseSf) = parseBaseline(basePath)
    val sfMatches = sameSf(sfDir, baseSf)
    val common =
      if (sfMatches) warmByName.keySet.intersect(baseline.keySet).toSeq else Nil
    val baseSum = common.map(baseline).sum
    val warmSum = common.map(warmByName).sum
    val degraded =
      if (common.size < 20 || baseSum <= 0) "null"
      else (warmSum > 1.15 * baseSum).toString
    val vsBase =
      if (baseSum > 0) f"${warmSum / baseSum}%.3f" else "null"
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","n":${results.size},"cold_total":$coldTotal%.2f,"errors":$errs,"load_start":$loadStart%.1f,"load_end":$loadEnd%.1f,"other_jvms":${math.max(jvmStart, jvmEnd)},"other_spark_jvms":${math.max(sparkStart, sparkEnd)},"contended":$contended,"contended_n":${contendedQueries.size},"contended_queries":$cq,"degraded":$degraded,"warm_vs_baseline":$vsBase,"families":$families,"queries":$qs,"detail":"$detailPath","sf":"$sfDir"}""")
    spark.stop()
    // A bench run with ANY erroring query must not look like a clean perf
    // gate (r4: window_sessionize failed with rows=-1 yet rc=0, so the
    // driver recorded a "passing" bench over a broken query).
    if (failed.nonEmpty) {
      System.err.println(s"[bench] exiting 1 — ${failed.size} failing queries: ${failed.mkString(", ")}")
      sys.exit(1)
    }
    // --gate: regression gate against the committed clean-run baseline
    // (r7 verdict item 7 — stop re-litigating drift by hand each round).
    // A query regresses when its UNCONTENDED warm time exceeds
    // max(2 x baseline, baseline + 1 s); contended queries are reported
    // but don't fail the gate (their seconds aren't the plan's fault).
    if (gateMode) {
      if (baseline.isEmpty) {
        System.err.println(s"[bench] gate: no baseline at $basePath")
        sys.exit(2)
      }
      // The baseline file declares its own entry count ("n") — a format
      // drift that the flat regex scan silently half-parses would shrink
      // the comparison set and quietly weaken the gate. Parsed-count
      // mismatch is a hard failure, not a hope-someone-reads-stderr.
      declaredN.foreach { n =>
        if (n != baseline.size) {
          System.err.println(s"[bench] gate: baseline declares n=$n " +
            s"entries but the parser extracted ${baseline.size} — format " +
            "drift in the warm map; refusing to gate against a partial " +
            "baseline")
          sys.exit(2)
        }
      }
      if (declaredN.isEmpty)
        System.err.println(s"[bench] gate: baseline at $basePath carries " +
          "no \"n\" count field — cannot self-check parse completeness " +
          s"(parsed ${baseline.size} entries); regenerate it with one")
      if (!sfMatches) {
        System.err.println(s"[bench] gate: this run's sf $sfDir is not the " +
          s"baseline's sf ${baseSf.getOrElse("(none declared)")} ($basePath) " +
          "— refusing to gate across scale factors")
        sys.exit(2)
      }
      var bad = 0
      var compared = 0
      val absBad = scala.collection.mutable.Set.empty[String]
      baseline.toSeq.sortBy(_._1).foreach { case (name, base) =>
        warmByName.get(name).foreach { w =>
          compared += 1
          val limit = math.max(2 * base, base + 1.0)
          if (w > limit) {
            if (contendedQueries.contains(name))
              System.err.println(
                f"[gate] $name%-28s warm $w%6.2f s > limit $limit%6.2f s (base $base%5.2f) — CONTENDED, not counted")
            else {
              bad += 1
              absBad += name
              System.err.println(
                f"[gate] $name%-28s warm $w%6.2f s > limit $limit%6.2f s (base $base%5.2f) REGRESSED")
            }
          }
        }
      }
      // Ratio-space gate (r11 verdict item 2): the absolute limit
      // max(2× base, base + 1 s) is toothless for sub-second queries —
      // a 0.3 s query can regress 4.3× without tripping it. Each
      // query's warm/base ratio is gated against the run's MEDIAN
      // ratio: a uniform hypervisor-epoch drift (r11: ~1.12× across
      // the whole catalog) moves the median and trips nothing, while a
      // localized 1.5×-over-median regression stands out at any epoch.
      // The absolute limit stays as the outer bound; a query tripping
      // both counts once, and contended queries are reported, not
      // counted — same policy as the absolute gate.
      val (medianRatio, ratioBad) = ratioGate(warmByName, baseline)
      if (!medianRatio.isNaN) {
        System.err.println(
          f"[gate] run median warm/base ratio ${medianRatio}%.3f " +
            f"(ratio gate threshold ${1.5 * medianRatio}%.3f)")
        ratioBad.foreach { case (name, r) =>
          val base = baseline(name)
          val w = warmByName(name)
          if (contendedQueries.contains(name))
            System.err.println(
              f"[gate] $name%-28s ratio $r%5.2f > ${1.5 * medianRatio}%5.2f (warm $w%6.2f s, base $base%5.2f) — CONTENDED, not counted")
          else if (!absBad.contains(name)) {
            bad += 1
            System.err.println(
              f"[gate] $name%-28s ratio $r%5.2f > ${1.5 * medianRatio}%5.2f (warm $w%6.2f s, base $base%5.2f) REGRESSED vs run median")
          }
        }
      }
      // Report COMPARED vs baseline size: a filtered run gates only what
      // it ran, and a green log must not read as full-catalog coverage.
      val skipped = baseline.size - compared
      System.err.println(
        s"[gate] $compared of ${baseline.size} baseline queries compared" +
          (if (skipped > 0) s" ($skipped not run this invocation)" else "") +
          s", $bad regressions")
      if (bad > 0) sys.exit(2)
    }
  }

  /** Ratio-space regression gate (r11 verdict item 2): per-query
    * warm/base ratios, gated against the run's median ratio. Returns
    * (median, failures sorted by descending ratio); failures are
    * queries whose ratio exceeds 1.5× the median AND whose warm sits
    * above base + 100 ms (a 0.02 s query doubling on timer jitter is
    * not a regression). Fewer than 20 shared queries → (NaN, Nil): the
    * median of a handful is itself noise, same cutoff as the run-level
    * degraded stamp. */
  private[graft] def ratioGate(warm: Map[String, Double],
      baseline: Map[String, Double]): (Double, Seq[(String, Double)]) = {
    val ratios = baseline.toSeq.collect {
      case (n, b) if b > 0.01 && warm.contains(n) => (n, warm(n) / b, warm(n), b)
    }
    if (ratios.size < 20) return (Double.NaN, Nil)
    val sorted = ratios.map(_._2).sorted
    val m = sorted.size
    val median =
      if (m % 2 == 1) sorted(m / 2) else (sorted(m / 2 - 1) + sorted(m / 2)) / 2
    val bad = ratios
      .filter { case (_, r, w, b) => r > 1.5 * median && w > b + 0.1 }
      .sortBy { case (n, r, _, _) => (-r, n) }
      .map { case (n, r, _, _) => (n, r) }
    (median, bad)
  }

  /** Whether a run over `runSf` may be compared against a baseline that
    * declares `baseSf`: both name the same directory once normalized
    * (`/root/testdata/sf0.1/` and `/root/testdata/sf0.1` agree). A
    * baseline that declares no sf is not comparable: nothing says which
    * scale its seconds were measured at. */
  private[graft] def sameSf(runSf: String, baseSf: Option[String]): Boolean = {
    def norm(p: String) = java.nio.file.Paths.get(p).toAbsolutePath.normalize
    baseSf.exists(b => norm(b) == norm(runSf))
  }

  /** Parse `{"n":N,"sf":...,"warm":{"name":sec,...}}` without a JSON
    * library (none on the classpath beyond Spark's shaded ones). The
    * format is ours and flat, so a regex scan over the `warm` object is
    * exact — and the file's own "n" count (second element of the return)
    * lets the gate verify the scan extracted EVERY entry instead of
    * silently shrinking on format drift. The third element is the sf
    * directory the baseline was captured on. */
  private[graft] def parseBaseline(path: String)
      : (Map[String, Double], Option[Int], Option[String]) = {
    val txt =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)))
      catch { case _: Throwable => return (Map.empty, None, None) }
    val declaredN = """"n"\s*:\s*([0-9]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
    val sf = """"sf"\s*:\s*"([^"]*)"""".r.findFirstMatchIn(txt)
      .map(_.group(1))
    val start = txt.indexOf("\"warm\"")
    if (start < 0) return (Map.empty, declaredN, sf)
    val body = txt.substring(txt.indexOf('{', start) + 1)
    // Value pattern accepts scientific notation: "q":1.5e1 truncated at
    // 'e' would parse as 1.5 with the NAME intact, so the declared-count
    // self-check could not catch it (review finding r10).
    val entry = """"([a-z0-9_]+)"\s*:\s*([0-9.]+(?:[eE][+-]?[0-9]+)?)""".r
    val warm = entry.findAllMatchIn(body.takeWhile(_ != '}'))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    (warm, declaredN, sf)
  }
}
