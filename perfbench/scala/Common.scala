package graftbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream, OutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Command-line settings of one benchmark run. */
final case class Conf(
    workload: String, seed: Long, seconds: Double, trace: Boolean,
    data: String, work: String, bench: String, cpus: Int) {

  /** How many timed units (batch passes, serve laps) of `refUnitS`
    * seconds each, their typical time on 4 cores, fill the run's
    * seconds. The count depends on `seconds` alone, so every run does the
    * same work and stops at the same point of the JVM's warm-up, however
    * fast the host is at the time. */
  def units(refUnitS: Double): Int = math.max(1, math.round(seconds / refUnitS).toInt)
}

/** What a workload hands back: request counts, every failed check, and
  * the metrics of its mode (end-to-end untraced, per-layer traced). */
final case class Outcome(
    attempted: Long, failed: Long, checks: Seq[String],
    metrics: Map[String, Double], notes: Map[String, Any] = Map.empty)

object Common {
  val json = new ObjectMapper()

  /** A local session configured like graft's own mains; `serving` adds
    * the served-surface setting of `graft.Serve` (double-quoted
    * identifiers, as ClickHouse reads them). */
  def session(c: Conf, serving: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${c.cpus}]")
      .appName(s"graftbench-${c.workload}")
      .config("spark.sql.shuffle.partitions", c.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${c.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${c.work}/warehouse")
    if (serving) b
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }

  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Set the workload up `times` times and keep the last one: `once`
    * builds everything the first timed operation needs, `teardown`
    * releases it. Returns the kept state and the median set-up seconds. */
  def setUp[T](times: Int)(once: => T)(teardown: T => Unit): (T, Double) = {
    val runs = (1 to times).map { i =>
      val (st, t) = timed(once)
      if (i < times) teardown(st)
      (st, t / 1000.0)
    }
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /** Data files (not metadata or hidden files) below `dir`. */
  def dataFiles(dir: java.io.File): Seq[java.io.File] =
    if (dir.isDirectory) Option(dir.listFiles).toSeq.flatten
      .filterNot(f => f.getName.startsWith(".") || f.getName.startsWith("_"))
      .flatMap(dataFiles)
    else if (dir.getName.endsWith(".parquet")) Seq(dir) else Nil

  def bytesBelow(dir: java.io.File): Long = dataFiles(dir).map(_.length).sum
}

/** A response as the client saw it. */
final case class HttpReply(status: Int, body: String)

/** A minimal HTTP/1.1 client over one socket. With `keepAlive` the
  * connection is reused for every request, as MCP SDK clients do;
  * otherwise each request opens and closes its own connection. The
  * request goes out in one write with Nagle off. */
final class HttpClient(port: Int, keepAlive: Boolean) extends AutoCloseable {
  private var sock: Socket = _
  private var in: InputStream = _
  private var out: OutputStream = _

  private def connect(): Unit = {
    sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port))
    sock.setSoTimeout(120000)
    in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    out = sock.getOutputStream
  }

  def request(method: String, path: String, body: String = ""): HttpReply = {
    if (sock == null || !keepAlive) connect()
    val b = body.getBytes(UTF_8)
    val head =
      s"$method $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
        (if (keepAlive) "" else "Connection: close\r\n") +
        (if (method == "POST") s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n"
         else "") + "\r\n"
    val msg = new ByteArrayOutputStream(head.length + b.length)
    msg.write(head.getBytes(UTF_8))
    msg.write(b)
    out.write(msg.toByteArray)
    out.flush()
    val reply = read()
    if (!keepAlive) close()
    reply
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n' && c >= 0) { if (c != '\r') sb.append(c.toChar); c = in.read() }
    if (c < 0 && sb.isEmpty) throw new java.io.EOFException("connection closed")
    sb.toString
  }

  private def readN(n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val k = in.read(buf, off, n - off)
      if (k < 0) throw new java.io.EOFException("short body")
      off += k
    }
    buf
  }

  /** Every endpoint the benchmark calls answers with a Content-Length. */
  private def read(): HttpReply = {
    val status = line().split(' ')(1).toInt
    var length = 0
    var h = line()
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (h.take(i).trim.equalsIgnoreCase("content-length")) length = h.drop(i + 1).trim.toInt
      h = line()
    }
    HttpReply(status, new String(readN(length), UTF_8))
  }

  override def close(): Unit = if (sock != null) { sock.close(); sock = null }
}

object Rpc {
  private var ids = 0L

  /** A JSON-RPC `tools/call` request body. */
  def call(tool: String, args: Map[String, String]): String = synchronized {
    ids += 1
    val a = Common.json.createObjectNode()
    args.foreach { case (k, v) => a.put(k, v) }
    val p = Common.json.createObjectNode().put("name", tool)
    p.set[JsonNode]("arguments", a)
    val r = Common.json.createObjectNode().put("jsonrpc", "2.0").put("id", ids)
      .put("method", "tools/call")
    r.set[JsonNode]("params", p)
    Common.json.writeValueAsString(r)
  }

  /** (isError, text) of a tools/call reply, or None when the reply is
    * not a well-formed tool result. */
  def toolResult(body: String): Option[(Boolean, String)] =
    try {
      val r = Common.json.readTree(body).get("result")
      if (r == null) None
      else Some((r.path("isError").asBoolean(false),
        r.path("content").path(0).path("text").asText("")))
    } catch { case _: Exception => None }
}
