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
    * start and end of the timed region AND before every query (the r6
    * start/end-only stamp could call a run clean while a transient
    * co-tenant landed a 10x spike mid-run). Returns (1-min loadavg,
    * other java JVMs, other SPARK/graft JVMs).
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

  /** EWMA (1-minute decay, mirroring /proc/loadavg's own smoothing) of
    * THIS JVM's RUNNABLE thread count, sampled by a daemon thread at
    * 2 Hz. This is the bench's measured contribution to loadavg: the r9
    * per-query flag allowed a fixed `idle + cpus + 4`, but the bench
    * rarely sustains 32 runnable threads — a co-tenant pushing load to
    * 15 during a 2-core-busy phase sailed under the old cut (BENCH_r09
    * was exactly that run, stamped contended:false at load 15).
    * Thresholding against idle + OWN measured runnable threads + 4
    * catches moderate co-tenancy without false-flagging the bench's
    * genuine 32-thread phases.
    *
    * Why runnable threads, not process-CPU cores: loadavg counts queue
    * length, which exceeds CPU-cores-used whenever tasks oversubscribe
    * the cores — and the JVM reports file-IO-blocked threads as
    * RUNNABLE, matching loadavg's treatment of D-state. The first r10
    * attempt used a CPU-clock EWMA sampled only at query boundaries and
    * false-flagged 37 queries of a provably idle run (load_idle 1.2,
    * zero co-tenant JVMs): boundary sampling misses mid-query bursts
    * that loadavg integrates continuously. The daemon sampler sees the
    * same bursts loadavg sees. */
  private object OwnLoad {
    private val tmx = java.lang.management.ManagementFactory.getThreadMXBean
    @volatile private var ewma = 0.0
    private val sampler = new Thread(() => {
      var last = System.nanoTime()
      while (true) {
        Thread.sleep(500)
        val now = System.nanoTime()
        val dt = (now - last) / 1e9
        last = now
        val runnable = tmx.getThreadInfo(tmx.getAllThreadIds, 0).count { ti =>
          ti != null && ti.getThreadState == Thread.State.RUNNABLE
        }
        val a = 1 - math.exp(-dt / 60.0)
        ewma = ewma * (1 - a) + runnable * a
      }
    }, "bench-ownload-sampler")
    sampler.setDaemon(true)

    def start(): Unit = sampler.start()
    def sample(): Double = ewma
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
    // Idle-baseline load, sampled BEFORE the SparkSession exists: every
    // later load reading includes the bench's own 32-thread work, so the
    // only honest "was the machine already busy" number is this one.
    // Per-query flags threshold against baseline + cpus (our own threads
    // can push 1-min loadavg up to ~cpus; anything beyond that is a
    // co-tenant) — the r7 artifact could only flag co-tenant SPARK JVMs
    // and let a 10-19x non-Spark spike through as "contended:false".
    //
    // The sample is then FLOORED (r11 verdict item 3): a bench launched
    // while the host is still busy captures that busyness as "idle" and
    // every per-query contention threshold inherits it for the whole run
    // (BENCH_r11 stamped load_idle 9.2 and its thresholds were ~9 points
    // too permissive). The anchor caps the sample at a small constant
    // plus one point per other live JVM — load the machine can sustain
    // while genuinely idle for OUR purposes; anything above that is
    // exactly the contention the threshold exists to catch, so it must
    // not be baked INTO the threshold. Both numbers are stamped in-band
    // (load_idle_sampled vs load_idle).
    val (loadIdleSampled, idleJvms, _) = cotenancy()
    val loadIdle = idleAnchor(loadIdleSampled, idleJvms)
    val gateMode = args.contains("--gate")
    // Driver contract: bench runs at local[32].
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.core.Tables.localSession(cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    graft.core.Tables.setLogLevel(spark, "WARN")
    // Own-load sampler starts BEFORE the heap/table/codegen warm-ups:
    // their load lands in 1-min loadavg, so it must land in the own-load
    // EWMA too, or the earliest timed queries inherit warm-up residue
    // that neither loadIdle nor own-load explains and get false-flagged
    // contended (review r10).
    OwnLoad.start()
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
    // Baseline parsed BEFORE timing: the self-healing pass right after
    // the loop needs the per-query repair thresholds.
    val basePath = sys.env.getOrElse("SPARK_GRAFT_GATE_BASELINE",
      "docs/BENCH_BASELINE.json")
    val (baseline, declaredN) = parseBaseline(basePath)
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
      // stamp under-samples — a transient co-tenant can land a 10x spike
      // mid-run and leave the artifact marked clean. One /proc walk per
      // query (~1 ms) localizes which queries ran under load.
      val (qLoad, _, qSparks) = cotenancy()
      val own1 = OwnLoad.sample()
      val cold = timeOne(name, fn)
      val second = timeOne(name, fn)
      val repeats =
        if (second > 2.0) Seq(second, timeOne(name, fn)) else Seq(second)
      val warm = repeats.min
      val runs = cold +: repeats
      val (qLoad2, _, qSparks2) = cotenancy()
      val own2 = OwnLoad.sample()
      // Per-query contention: a CO-TENANT Spark JVM alive around this
      // query's runs, OR surrounding 1-min load exceeding
      // idle-baseline + the bench's OWN MEASURED cpu contribution
      // (OwnLoad EWMA, same 1-min decay as loadavg) + 4. The r9 flag
      // allowed a fixed idle + cpus + 4 allowance, which let a load-15
      // co-tenant run pass as contended:false because the bench itself
      // rarely sustains 32 runnable threads; the measured-own form flags
      // any load the bench demonstrably did not generate.
      if (math.max(qSparks, qSparks2) > 0 ||
          qLoad > loadIdle + own1 + 4 || qLoad2 > loadIdle + own2 + 4)
        contendedQueries += name
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
    // --- Self-healing remeasure pass (r10 verdict item 2). Detection
    // alone leaves the repair to a human re-run (the r10 driver capture
    // stamped degraded:true and a human had to produce the clean
    // artifact). Any query whose warm beat its repair threshold WHILE
    // the co-tenant/own-load stamps showed external contention is
    // re-measured here, at end of run, up to 3 attempts with a growing
    // back-off; an attempt counts only if it demonstrably ran clean (no
    // co-tenant Spark JVM, both loadavg samples within idle + own + 4 —
    // remeasureClean, same form as the per-query flag). Healed queries
    // lose their contended flag and their warm becomes the min over all
    // clean runs; queries the pass could not repair are named in-band
    // ("unrepaired") so the artifact still carries the evidence.
    val warmByName0 = results.map { case (k, _, w, _, _) => k -> w }.toMap
    val healedWarm =
      scala.collection.mutable.Map.empty[String, Double] ++ warmByName0
    val remeasuredQ = scala.collection.mutable.LinkedHashSet.empty[String]
    val unrepaired = scala.collection.mutable.LinkedHashSet.empty[String]
    // Heal-attempt runs are recorded WITH their acceptance flag: an
    // attempt that ran under contention (or lost a run to a crash) is
    // discarded by the healer but still lands in the detail sidecar —
    // untagged, a reader could not tell which extra runs fed healedWarm
    // (r11 ADVICE).
    val extraRuns =
      scala.collection.mutable.Map.empty[String, List[(Double, Boolean)]]
    // Back-off budget: 1-min loadavg needs ~30-60 s to decay after a
    // co-tenant dies, so retries wait 10 s then 30 s — but the TOTAL
    // sleep across all suspects is capped (a run contended end-to-end
    // must not stall the artifact by suspects × 40 s; those queries
    // just land in "unrepaired").
    var sleepBudgetMs = 120000L
    // A heal re-run that THROWS must not become the healed warm: timeOne
    // returns seconds-to-failure (near zero for an early crash) and adds
    // to `failed`, flipping the whole bench to exit 1 even though the
    // main loop measured the query fine. Heal attempts run through this
    // non-polluting runner instead — a crash discards the attempt and
    // keeps the main-loop measurement.
    def timeHealRun(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) =>
          org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name heal re-run FAILED — attempt " +
          s"discarded, main-loop measurement kept: ${e.getMessage}")
        None
      }
    }
    // maxAttempts: 3 for the targeted contended pass; the degraded sweep
    // passes 1 — its cap×attempts×2-runs product is otherwise 6× the
    // "one remeasure pass" its comment promises on a still-contended host.
    def healPass(suspects: Seq[String], why: String,
        maxAttempts: Int = 3): Unit =
      // Queries that FAILED in the main loop have nothing to heal (their
      // warm is a crash duration already surfaced via errors/exit 1) and
      // would crash again here, 2×maxAttempts more times.
      suspects.filterNot(failed).foreach { name =>
        SparkEntry.queries.get(name).foreach { fn =>
          var attempts = 0
          var healed = false
          while (attempts < maxAttempts && !healed) {
            if (attempts > 0) {
              val want = if (attempts == 1) 10000L else 30000L
              val t = math.min(want, sleepBudgetMs)
              sleepBudgetMs -= t
              if (t > 0) Thread.sleep(t)
            }
            attempts += 1
            val (l1, _, s1) = cotenancy(); val o1 = OwnLoad.sample()
            val r1 = timeHealRun(name, fn)
            val r2 = timeHealRun(name, fn)
            graft.core.CacheLedger.release()
            val (l2, _, s2) = cotenancy(); val o2 = OwnLoad.sample()
            val ok = List(r1, r2).flatten
            val accepted = ok.size == 2 &&
              remeasureClean(s1, s2, l1, o1, l2, o2, loadIdle)
            extraRuns(name) =
              extraRuns.getOrElse(name, Nil) ++ ok.map(t => (t, accepted))
            if (accepted) {
              healedWarm(name) =
                math.min(healedWarm(name), ok.min)
              remeasuredQ += name
              contendedQueries -= name
              healed = true
              System.err.println(f"[bench] $name%-28s remeasured clean " +
                f"($why): warm ${healedWarm(name)}%.2f s (polluted run " +
                f"said ${warmByName0(name)}%.2f s)")
            }
          }
          if (!healed) {
            unrepaired += name
            System.err.println(s"[bench] $name could not be remeasured " +
              s"clean in $attempts attempts — left as measured")
          }
        }
      }
    healPass(healSuspects(warmByName0, contendedQueries.toSet, baseline),
      "contended")
    // Second sweep: boundary flags cannot see the WASH after a co-tenant
    // dies (scheduler noise and cache eviction inflate queries 1.3-3×
    // while loadavg residue hides inside the own-load allowance — both
    // decay with the same 1-min constant). The run-level 15% check DOES
    // see it, so when the healed numbers would still stamp degraded,
    // every above-noise-over-baseline query gets one remeasure pass
    // (largest excess first, capped — a genuinely-regressed plan just
    // reproduces its slow number under a clean remeasure and keeps it,
    // so this can repair pollution but never hide a real regression).
    locally {
      val common0 = healedWarm.keySet.intersect(baseline.keySet)
      val baseSum0 = common0.toSeq.map(baseline).sum
      val warmSum0 = common0.toSeq.map(healedWarm).sum
      if (common0.size >= 20 && baseSum0 > 0 && warmSum0 > 1.15 * baseSum0)
        healPass(degradedSweep(healedWarm.toMap, baseline, remeasuredQ.toSet),
          "degraded-sweep", maxAttempts = 1)
    }
    // Full per-query detail (every repeat + row count + remeasure runs)
    // goes to a sidecar file; stdout carries only the compact one-line
    // summary the driver captures (its tail window truncated the r2
    // line — keep it short and make it the LAST line printed).
    val detail = results.map { case (name, _, _, runs0, rows) =>
      // "runs" = main-loop runs only; heal-attempt runs are a SEPARATE
      // array tagged with whether their attempt was accepted (ran clean,
      // both runs completed) — only accepted runs can feed healedWarm.
      val rs = runs0.map(r => f"$r%.3f").mkString("[", ",", "]")
      val hr = extraRuns.getOrElse(name, Nil)
        .map { case (t, acc) => f"""{"s":$t%.3f,"accepted":$acc}""" }
        .mkString("[", ",", "]")
      val healField = if (hr == "[]") "" else s""","heal_runs":$hr"""
      val ld = f"${perQueryLoad.getOrElse(name, -1.0)}%.1f"
      val ct = contendedQueries.contains(name)
      val rm = remeasuredQ.contains(name)
      s""""$name":{"runs":$rs,"rows":$rows,"load":$ld,"contended":$ct,"remeasured":$rm$healField}"""
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
    // Every downstream number reads the HEALED warm map — the remeasured
    // values are the plan's real cost; the contended originals live on
    // in the detail sidecar's runs arrays.
    val warmByName = healedWarm.toMap
    val qs = headline.filter(warmByName.contains)
      .map(k => "\"" + k + "\":" + f"${warmByName(k)}%.2f")
      .mkString("{", ",", "}")
    val families = results.groupBy(_._1.takeWhile(_ != '_'))
      .toSeq.sortBy(_._1)
      .map { case (fam, rs) =>
        "\"" + fam + "\":" + f"${rs.map(r => warmByName(r._1)).sum}%.1f" }
      .mkString("{", ",", "}")
    val total = results.map(r => warmByName(r._1)).sum
    val coldTotal = results.map(_._2).sum
    val errs = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    // Co-tenancy stamp: numbers from a contended run (another Spark JVM
    // alive, or the machine already half-busy before timing) must carry
    // the evidence in-band — a reader comparing rounds checks this flag
    // before reading the seconds.
    val (loadEnd, jvmEnd, sparkEnd) = cotenancy()
    // "was the machine already half-busy" reads the SAMPLED idle value —
    // the anchored loadIdle is capped near 2 and could never trip this.
    val contended = sparkStart > 0 || sparkEnd > 0 ||
      loadIdleSampled >= cpus.toInt / 2.0 || contendedQueries.nonEmpty
    // contended_n carries the TRUE count — the name list is capped at 20
    // to protect the tail-capture budget, and a capped list without the
    // count would read as the full set.
    val cq = contendedQueries.toSeq.take(20).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    // Run-level self-proof against the committed clean baseline (r9
    // verdict item 3): a capture whose total warm over the queries both
    // runs share exceeds the baseline sum by >15% stamps degraded:true
    // in-band, even if no individual query tripped the per-query flag —
    // so a moderately co-tenant round artifact can never read as clean.
    // Filtered runs with <20 common queries stamp null (not comparable:
    // single-query noise would dominate the 15% band).
    val common = warmByName.keySet.intersect(baseline.keySet).toSeq
    val baseSum = common.map(baseline).sum
    val warmSum = common.map(warmByName).sum
    val degraded =
      if (common.size < 20 || baseSum <= 0) "null"
      else (warmSum > 1.15 * baseSum).toString
    val vsBase =
      if (baseSum > 0) f"${warmSum / baseSum}%.3f" else "null"
    // remeasured/unrepaired stamps: a reader seeing contended_n drop to 0
    // with remeasured_n > 0 knows the numbers were HEALED, not born clean;
    // unrepaired names say which seconds are still polluted — and like
    // contended_queries, the capped list travels WITH its true count
    // (unrepaired_n), so truncation can't read as the full set.
    val unrep = unrepaired.toSeq.take(10).map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","n":${results.size},"cold_total":$coldTotal%.2f,"errors":$errs,"load_idle":$loadIdle%.1f,"load_idle_sampled":$loadIdleSampled%.1f,"load_start":$loadStart%.1f,"load_end":$loadEnd%.1f,"other_jvms":${math.max(jvmStart, jvmEnd)},"other_spark_jvms":${math.max(sparkStart, sparkEnd)},"contended":$contended,"contended_n":${contendedQueries.size},"contended_queries":$cq,"remeasured_n":${remeasuredQ.size},"unrepaired_n":${unrepaired.size},"unrepaired":$unrep,"degraded":$degraded,"warm_vs_baseline":$vsBase,"families":$families,"queries":$qs,"detail":"$detailPath","sf":"$sfDir"}""")
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

  /** Idle-anchor floor (r11 verdict item 3): cap the pre-session idle
    * loadavg sample at a small constant plus one point per other live
    * JVM. A bench launched on a still-busy host otherwise bakes that
    * busyness into every per-query contention threshold for the whole
    * run (BENCH_r11: load_idle 9.2 → thresholds ~9 points too
    * permissive). Load above the anchor IS the contention the
    * thresholds exist to catch. An unknown JVM count (/proc walk
    * failure, -1) contributes zero — fail strict, not lenient. */
  private[graft] def idleAnchor(sampled: Double, otherJvms: Int): Double =
    math.min(sampled, 2.0 + math.max(otherJvms, 0))

  /** Ratio-space regression gate (r11 verdict item 2): per-query
    * warm/base ratios, gated against the run's median ratio. Returns
    * (median, failures sorted by descending ratio); failures are
    * queries whose ratio exceeds 1.5× the median AND whose warm sits
    * above base + 100 ms (the same absolute-diff noise floor as
    * healSuspects — a 0.02 s query doubling on timer jitter is not a
    * regression). Fewer than 20 shared queries → (NaN, Nil): the
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

  /** Self-healing suspects (r10 verdict item 2): queries flagged
    * contended whose warm also sits ABOVE baseline by more than timer
    * noise (10% and 100 ms) — a contended measurement above noise is
    * untrustworthy at any magnitude, and the sub-threshold pollution of
    * many mildly-slowed queries is exactly what flips the run-level 15%
    * degraded stamp (measured: a 60 s co-tenant left 23 queries 1.2-1.4×
    * over base, individually "small", collectively degraded:true). A
    * contended query at-or-under baseline keeps its number — it
    * demonstrably wasn't hurt. A slow query that ran CLEAN is the plan's
    * own fault (the gate's business, not the healer's). Queries without
    * a baseline entry are skipped: there is no "expected" to heal
    * toward. Sorted for deterministic retry order. */
  private[graft] def healSuspects(warm: Map[String, Double],
      contended: Set[String], baseline: Map[String, Double]): Seq[String] =
    contended.toSeq.sorted.filter { n =>
      baseline.get(n).exists(b =>
        warm.getOrElse(n, 0.0) > b + math.max(0.1 * b, 0.1))
    }

  /** Degraded-sweep suspects: when the run-level 15% check would stamp
    * degraded even after the contended-suspects pass, every query still
    * above noise-over-baseline (same 10%/100 ms noise floor) that was
    * not already remeasured clean is re-measured once more — largest
    * absolute excess first, capped so a genuinely-regressed full catalog
    * costs at most `cap` extra query pairs. */
  private[graft] def degradedSweep(warm: Map[String, Double],
      baseline: Map[String, Double], already: Set[String],
      cap: Int = 40): Seq[String] =
    baseline.keysIterator
      .filterNot(already)
      .filter(n => warm.get(n).exists(w =>
        w > baseline(n) + math.max(0.1 * baseline(n), 0.1)))
      .toSeq
      .sortBy(n => (-(warm(n) - baseline(n)), n))
      .take(cap)

  /** A remeasure attempt counts only if it demonstrably ran clean: no
    * co-tenant Spark JVM at either boundary (an unknown count from a
    * /proc walk failure reads -1 and is treated as clean, matching the
    * per-query flag), and both loadavg samples within
    * idle + own-runnable-EWMA + 4 — the same contention form the main
    * loop applies, so "healed" means "re-ran under conditions the run
    * itself would have called uncontended". */
  private[graft] def remeasureClean(sparks1: Int, sparks2: Int,
      load1: Double, own1: Double, load2: Double, own2: Double,
      loadIdle: Double): Boolean =
    math.max(sparks1, sparks2) <= 0 &&
      load1 <= loadIdle + own1 + 4 && load2 <= loadIdle + own2 + 4

  /** Parse `{"n":N,"sf":...,"warm":{"name":sec,...}}` without a JSON
    * library (none on the classpath beyond Spark's shaded ones). The
    * format is ours and flat, so a regex scan over the `warm` object is
    * exact — and the file's own "n" count (second element of the return)
    * lets the gate verify the scan extracted EVERY entry instead of
    * silently shrinking on format drift. */
  private[graft] def parseBaseline(path: String): (Map[String, Double], Option[Int]) = {
    val txt =
      try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)))
      catch { case _: Throwable => return (Map.empty, None) }
    val declaredN = """"n"\s*:\s*([0-9]+)""".r.findFirstMatchIn(txt)
      .map(_.group(1).toInt)
    val start = txt.indexOf("\"warm\"")
    if (start < 0) return (Map.empty, declaredN)
    val body = txt.substring(txt.indexOf('{', start) + 1)
    // Value pattern accepts scientific notation: "q":1.5e1 truncated at
    // 'e' would parse as 1.5 with the NAME intact, so the declared-count
    // self-check could not catch it (review finding r10).
    val entry = """"([a-z0-9_]+)"\s*:\s*([0-9.]+(?:[eE][+-]?[0-9]+)?)""".r
    val warm = entry.findAllMatchIn(body.takeWhile(_ != '}'))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
    (warm, declaredN)
  }
}
