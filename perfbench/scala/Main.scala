package graftbench

import scala.jdk.CollectionConverters._

/** Runs one workload in this JVM and prints its result as the last line
  * of standard output:
  *
  *   Main --workload serve|batch --seed N --seconds S --trace 0|1
  *        --data DIR --work DIR --bench DIR
  *
  * `--data` holds the generated input tables, `--work` is scratch space
  * for this run, `--bench` is the benchmark's own directory (corpus). */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val c = Conf(a("workload"), a("seed").toLong, a("seconds").toDouble, a("trace") == "1",
      a("data"), a("work"), a("bench"),
      a.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors))
    val out = c.workload match {
      case "serve" => ServeWorkload.run(c)
      case "batch" => BatchWorkload.run(c)
    }
    val j = Common.json.createObjectNode()
    j.put("attempted", out.attempted).put("failed", out.failed)
    val checks = j.putArray("checks")
    out.checks.take(50).foreach(checks.add)
    j.put("checks_failed", out.checks.size)
    val m = j.putObject("metrics")
    val metrics = if (c.trace) out.metrics - "setup_s" else out.metrics
    metrics.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
    if (!c.trace) m.put("mem_peak_mb", Common.peakRssMb())
    j.set[com.fasterxml.jackson.databind.JsonNode]("notes", Common.json.valueToTree(
      out.notes.map { case (k, v) => k -> toJava(v) }.asJava))
    System.out.println(Common.json.writeValueAsString(j))
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out, so end here
    System.exit(0)
  }

  private def toJava(v: Any): Any = v match {
    case m: Map[_, _] => m.map { case (k, x) => k.toString -> toJava(x) }.asJava
    case s: Seq[_] => s.map(toJava).asJava
    case x => x
  }
}
