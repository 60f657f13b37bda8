package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec

import graft.{SparkEntry, Tables}

/** `batch`: queries from `SparkEntry.queries` run one after another to
  * a `noop` sink, as `graft.Bench` runs them. */
object BatchWorkload {

  /** One query per plan-hazard cause in the ROADMAP baseline: the three
    * causes of a SortAggregate fallback (the ANY-join shim's struct
    * `min`, the Jaccard verify step's array `first`, the centroid
    * `first`), then a single and a doubled global (unpartitioned) window. */
  val Queries: Seq[String] = Seq(
    "q_any_join_shim", "dedup_jaccard", "emb_centroids",
    "q_moving_avg", "q_with_fill_cascade")

  /** Typical seconds of one timed pass on 4 cores (see [[Conf.units]]). */
  val PassRefS = 3.8

  def start(c: Conf): SparkSession = {
    val s = Common.session(c, serving = false)
    graft.functions.CHFunctions.register(s)
    Tables.all.foreach(Tables(s, c.data, _))
    s
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Every node of a physical plan, through adaptive wrappers and
    * subqueries, as planned before execution (with its exchanges). */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.initialPlan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
  }

  /** Plan-shape counts of one physical plan. They repeat exactly for a
    * given commit, so a plan change can cite them as counts. */
  def shape(p: SparkPlan): Map[String, Double] = {
    val ns = nodes(p)
    Map(
      "plans.sort_aggregate_nodes" -> ns.count(_.isInstanceOf[SortAggregateExec]),
      "plans.global_window_nodes" -> ns.count {
        case w: WindowExec => w.partitionSpec.isEmpty
        case _ => false
      },
      "plans.exchange_nodes" -> ns.count(n =>
        n.isInstanceOf[ShuffleExchangeLike] || n.isInstanceOf[BroadcastExchangeLike]),
      "functions.codegen_fallback_nodes" -> ns.map(_.expressions.map(_.collect {
        case e: CodegenFallback => e
      }.size).sum).sum
    ).map { case (k, v) => k -> v.toDouble }
  }

  def run(c: Conf): Outcome = {
    val (spark, setupS) = Common.setUp(3)(start(c))(_.stop())
    val failures = ArrayBuffer.empty[String]

    // untimed correctness pass, which also warms every query: results go
    // to parquet for the DuckDB comparison, with the oracle SQL beside them
    val out = s"${c.work}/out"
    val t0 = System.nanoTime()
    Queries.foreach { n =>
      try SparkEntry.queries(n)(spark, c.data).write.mode("overwrite").parquet(s"$out/$n")
      catch { case e: Exception => failures += s"$n: ${e.getMessage}" }
    }
    val oracles = Common.json.createObjectNode()
    Queries.foreach(n => SparkEntry.oracleSql.get(n).foreach(oracles.put(n, _)))
    Common.json.writeValue(new java.io.File(s"$out/oracle_sql.json"), oracles)
    val checkMs = Common.ms(t0)

    val res = if (c.trace) traced(c, spark) else {
      val times = Queries.map(_ -> ArrayBuffer.empty[Double]).toMap
      val passes = c.units(PassRefS)
      val passMs = (1 to passes).map { _ =>
        Common.timed(Queries.foreach { n =>
          times(n) += Common.timed(noop(SparkEntry.queries(n)(spark, c.data)))._2
        })._2
      }
      val per = Queries.map(n => Stats.lowMean(times(n).toSeq))
      Outcome(Queries.size.toLong * passes, 0, Nil, Map(
        "p50_ms" -> Stats.median(per),
        "p90_ms" -> Stats.quantile(per, 0.90),
        "geomean_ms" -> Stats.geomean(per),
        "throughput_per_s" -> Queries.size / (per.sum / 1000.0)),
        Map("passes" -> passes, "pass_ms" -> passMs, "total_s" -> per.sum / 1000.0,
          "per_query_ms" -> Queries.zip(per).toMap,
          "times_ms" -> Queries.map(n => n -> times(n).toSeq.map(_.round)).toMap))
    }
    spark.stop()
    res.copy(checks = failures.toSeq ++ res.checks, failed = failures.size + res.failed,
      metrics = res.metrics + ("setup_s" -> setupS),
      notes = res.notes ++ Map("check_pass_ms" -> checkMs, "queries" -> Queries))
  }

  /** The traced run: untraced and traced passes in the order
    * plain-traced-traced-plain, so warm-up drift cancels out of the
    * tracing overhead. A traced pass times each query's build, optimize,
    * physical planning and execution apart; layer figures are per pass.
    * Then the incremental-ingest path, which has no workload of its own. */
  private def traced(c: Conf, spark: SparkSession): Outcome = {
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    def plain(): Double = Common.timed(Queries.foreach(n => noop(SparkEntry.queries(n)(spark, c.data))))._2
    val buildJobs = ArrayBuffer.empty[Double]
    val shapes = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Double]]
    def tracedPass(): Double = Common.timed(Queries.foreach { n =>
      Trace.inRequest(Trace.newRequest())(Trace.span("batch.query") {
        val j0 = counters.jobs.sum
        val df = Trace.span("operators.build")(SparkEntry.queries(n)(spark, c.data))
        Thread.sleep(20)
        buildJobs += (counters.jobs.sum - j0).toDouble
        Trace.span("spark.optimize")(df.queryExecution.optimizedPlan)
        val plan = Trace.span("spark.physical")(df.queryExecution.executedPlan)
        shapes(n) = shape(plan)
        Trace.span("spark.exec")(df.queryExecution.toRdd.foreach(_ => ()))
      })
    })._2
    val p1 = plain()
    val before = counters.snapshot
    Trace.on = true
    val t1 = tracedPass()
    val t2 = tracedPass()
    Trace.on = false
    Thread.sleep(200)
    val spark0 = SparkCounters.perUnit(before, counters.snapshot, 2.0)
    val p2 = plain()
    Trace.on = true
    val (ingest, ingestFailures) = IngestProbe.run(c, spark, batches = 4)
    Trace.on = false
    def perPass(n: String) = Trace.all.filter(_.name == n).map(_.ms).sum / 2
    val layers = Map(
      "operators.build_ms" -> perPass("operators.build"),
      "operators.build_jobs" -> buildJobs.sum / 2,
      "spark.optimize_ms" -> perPass("spark.optimize"),
      "spark.physical_ms" -> perPass("spark.physical"),
      "spark.exec_ms" -> perPass("spark.exec"),
      "trace.overhead_ms" -> ((t1 + t2) - (p1 + p2)) / 2,
      "trace.overhead_pct" -> 100.0 * ((t1 + t2) / (p1 + p2) - 1.0)) ++
      shapes.values.flatten.groupMapReduce(_._1)(_._2)(_ + _) ++ spark0 ++ ingest
    TraceOut.write(c, layers)
    Outcome(4L * Queries.size + 6, ingestFailures.map(_.split(':')(0)).distinct.size,
      ingestFailures, layers,
      Map("plan_shapes" -> shapes.toMap,
        "span_median_ms" -> Trace.summary.map { case (k, v) => k -> v._2 }))
  }
}
