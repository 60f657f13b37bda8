package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark main: runs every SparkEntry query at
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Queries execute to a `noop` sink so the full plan runs (a bare
  * count() would let Spark prune projections and under-report). One
  * warmup pass amortizes JVM/codegen startup out of the measurements.
  *
  * Failure reporting is FIRST-CLASS: a failed query is named in the
  * `failures` list (and still carried as -1 in the per-query map for
  * position), never silently folded out of the total. Because the
  * driver captures only the tail of the output, the summary keys
  * (`failures`, `value`, `sf1`, `sf`, `metric`) are emitted AFTER the
  * wide `queries` map so a head-truncated capture still shows them.
  * The complete full-precision result is also written to
  * `BENCH_full.json` in the working directory — at 180+ queries the
  * one-liner must degrade to whole seconds, which can hide sub-second
  * regressions; the file never degrades.
  *
  * At the per-round SF (sf0.1) the heavyweight iterative shapes plus
  * the two integer-overflow queries are ALSO re-run at sf1 (10× data,
  * generated once into tmp via [[graft.tools.ScaleData]] and reused),
  * so at-scale regressions surface per-round rather than per-audit.
  * Disable with SPARK_GRAFT_SCALE=0; point elsewhere with
  * SPARK_GRAFT_SCALE_DIR. */
object Bench {

  /** sf1 subset: the iterative dedup/ANN shapes whose scaling the
    * round-10 audit measured, plus q_ch_bits/q_ch_ip — the two
    * queries that die at production key magnitudes if integer
    * arithmetic regresses to throwing overflow — and q_ch_url, the
    * suite's slowest at-scale query (round-12 decomposition, 15M rows:
    * URL synth-concat 0.8 s + all six native one-pass parses ~2 s;
    * the remaining ~14 s is the uniqExact two-phase exact-distinct
    * whose first-phase groups ≈ row cardinality — inherent to the
    * aggregate's semantics, not URL-operator cost; `EXPLAIN` on the
    * query shows the plan behind the split). */
  private val scaleSubset = Seq(
    "dedup_jaccard", "dedup_clusters", "dedup_incremental",
    "pipeline_clean", "ann_ivf", "ann_pq", "q_ch_bits", "q_ch_ip",
    "q_ch_url")

  /** 1-minute system load average — recorded in the bench JSON so a
    * contended capture self-identifies (round-12 postmortem: the
    * driver's end-of-round run read 290 s where two quiet runs read
    * 86-94 s; per-query swings hit 16× in both directions and the
    * artifact carried no way to tell). -1 where the JVM can't read it. */
  private def loadAvg(): Double = {
    val v = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    math.round(v * 100) / 100.0
  }

  /** Where this run's full-precision record goes. The committed
    * BENCH_full.json is a curated QUIET record (load < 1.0, zero
    * suspects); the driver's end-of-round run is typically contended
    * and used to silently clobber it. Default now writes to
    * /tmp/BENCH_full.json; set SPARK_GRAFT_BENCH_COMMIT=1 to write
    * the repo copy deliberately (the committed record is updated only
    * by an operator who checked `uptime` first). */
  private def fullPath: String =
    if (sys.env.get("SPARK_GRAFT_BENCH_COMMIT").contains("1"))
      "BENCH_full.json"
    else "/tmp/BENCH_full.json"

  /** The per-query seconds committed in the LAST BENCH_full.json (the
    * repo copy — the quiet reference for the contention guard, read
    * regardless of where this run writes). Own-format file → a regex
    * over the queries map suffices; absent/unreadable → empty. */
  private def priorTimes(): Map[String, Double] = try {
    val p = java.nio.file.Paths.get("BENCH_full.json")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else {
      val txt = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val qi = txt.indexOf("\"queries\":{")
      if (qi < 0) Map.empty
      else {
        val body = txt.substring(qi + 11, txt.indexOf('}', qi))
        """"([A-Za-z0-9_]+)":(-?[0-9.]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }
    }
  } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val loadStart = loadAvg()
    val prior = priorTimes()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR: registration of dialect names that shadow Spark built-ins
    // (ifNull/startsWith/endsWith) logs a WARN per name, and the driver
    // scrapes this run's output tail for the JSON line — keep it clean.
    spark.sparkContext.setLogLevel("ERROR")

    def exec(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // optional args filter to a subset (local iteration; driver passes none)
    val names =
      if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted

    // Warmup: run every query once at the SMALLEST available scale
    // factor first. Whole-stage codegen compiles per generated source,
    // independent of data volume, so a ~1MB pass pre-compiles each
    // query's expression machinery in seconds and the timed runs below
    // measure plan execution rather than first-touch Janino compilation
    // (measured 2-3x inflation on single-shot runs). Any long-lived
    // deployment amortizes compilation the same way.
    // sf0.01 preferred: big enough to get the generated loops through
    // C2 JIT compilation (sf0.001 compiles the classes but leaves them
    // interpreted), still ~10% of the benched volume
    val warmDir = {
      val base = sfDir.stripSuffix("/").split('/').dropRight(1).mkString("/")
      Seq("sf0.01", "sf0.001").map(s => s"$base/$s")
        .find(d => d != sfDir.stripSuffix("/") &&
          new java.io.File(s"$d/lineitem.parquet").exists)
        .getOrElse(sfDir)
    }
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir)
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }

    val results = names.map(n => n -> exec(n, sfDir))
    val failures = results.collect { case (n, v) if v < 0 => n }
    val total = results.map(_._2).filter(_ >= 0).sum
    val sfName = sfDir.stripSuffix("/").split('/').last

    // --- sf1 subset (full runs only, at the per-round SF) ---
    val scaleWanted = args.isEmpty && sfName == "sf0.1" &&
      !sys.env.get("SPARK_GRAFT_SCALE").contains("0")
    val scaleDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"${System.getProperty("java.io.tmpdir")}/graft_sf1")
    val scaleResults: Seq[(String, Double)] =
      if (!scaleWanted) Nil
      else try {
        // embeddings is written LAST by the generator, so its _SUCCESS
        // marks a complete directory — reuse across rounds
        if (!new java.io.File(s"$scaleDir/embeddings.parquet/_SUCCESS").exists) {
          System.err.println(s"[bench] generating sf1 at $scaleDir ...")
          graft.tools.ScaleData.generate(spark, sfDir, scaleDir, 10)
        }
        scaleSubset.map(n => n -> exec(n, scaleDir))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] sf1 subset skipped: ${e.getMessage}")
        scaleSubset.map(_ -> -1.0)
      }
    val scaleFailures = scaleResults.collect { case (n, v) if v < 0 => n }
    val loadEnd = loadAvg()

    // contention guard: queries >3x their committed BENCH_full time
    // (prior >= 0.2 s so sub-noise-floor entries don't flag). A long
    // list + high load = contended capture; trust the committed record.
    val suspects = results.collect {
      case (n, v) if v > 0 && prior.get(n).exists(p => p >= 0.2 && v > 3 * p)
        => n
    }

    spark.stop()

    def jstr(s: String) = "\"" + s + "\""
    def jarr(ss: Seq[String]) = ss.map(jstr).mkString("[", ",", "]")
    def jmap(rs: Seq[(String, Double)], fmt: Double => String) =
      rs.map { case (k, v) => jstr(k) + ":" + fmt(v) }.mkString("{", ",", "}")
    def full(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val totalStr = full(total)

    // like-for-like vs the COMMITTED record (r15 ADVICE: make the
    // round-over-round comparison mechanical): total seconds over the
    // queries present in BOTH runs, so added queries never read as
    // drift. ratio > 1 = this run slower on the shared set.
    val shared = results.filter { case (n, v) =>
      v >= 0 && prior.get(n).exists(_ >= 0) }
    val sharedPrior = shared.map { case (n, _) => prior(n) }.sum
    val sharedThis = shared.map(_._2).sum
    val sharedRatio =
      if (sharedPrior > 0) math.round(sharedThis / sharedPrior * 1000) / 1000.0
      else -1.0

    // Full-precision artifact: the one-liner below must degrade to
    // whole seconds to fit the driver's output-tail window, which
    // hides sub-second regressions — this file never degrades.
    val fullJson =
      s"""{
         |"metric":"bench_full","sf":${jstr(sfName)},"cpus":$cpus,
         |"total_sec":$totalStr,
         |"load_avg_start":$loadStart,"load_avg_end":$loadEnd,
         |"cpus_avail":${Runtime.getRuntime.availableProcessors},
         |"suspect_contention":${jarr(suspects)},
         |"shared_with_prior":${shared.size},
         |"shared_prior_total_sec":${full(sharedPrior)},
         |"shared_this_total_sec":${full(sharedThis)},
         |"shared_ratio":$sharedRatio,
         |"failures":${jarr(failures)},
         |"queries":${jmap(results, full)},
         |"sf1_note":"subset re-run at 10x data (ScaleData replicate of $sfName); -1 = failed, named in sf1_failures",
         |"sf1_failures":${jarr(scaleFailures)},
         |"sf1":${jmap(scaleResults, full)}
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      fullJson.getBytes("UTF-8"))

    // One-line summary for the driver's tail capture. The capture
    // keeps the LAST ~2000 chars, so the wide queries map goes FIRST
    // and every summary key (failures/value/sf1/sf/metric) after it —
    // a head-truncated capture still carries the verdict-relevant
    // fields. Decimals degrade 2 → 1 → 0 to fit the window.
    def line(decimals: Int): String = {
      // strip trailing zeros ("1.20" -> "1.2", "3.00" -> "3") — at
      // ~180 keys every byte counts against the tail window
      def fmt(v: Double): String = {
        val s = String.format(java.util.Locale.ROOT,
          s"%.${decimals}f", Double.box(v))
        if (decimals == 0) s
        else {
          val t = s.reverse.dropWhile(_ == '0').reverse.stripSuffix(".")
          if (t.isEmpty || t == "-") "0" else t
        }
      }
      s"""{"queries":${jmap(results, fmt)},""" +
        s""""failures":${jarr(failures)},""" +
        s""""sf1":${jmap(scaleResults, fmt)},""" +
        s""""sf1_failures":${jarr(scaleFailures)},""" +
        s""""load_avg":[$loadStart,$loadEnd],""" +
        s""""suspect_contention":${jarr(suspects)},""" +
        s""""value":$totalStr,"unit":"sec","sf":${jstr(sfName)},""" +
        s""""full_precision_file":"$fullPath","metric":"total"}"""
    }
    // budget: 2000-char tail − "[info] " prefix (7) − sbt's trailing
    // success line (~76 incl newline) → ≤ ~1916; 1910 keeps margin
    val out = Seq(2, 1).map(line).find(_.length <= 1910).getOrElse(line(0))
    println(out)
  }
}
