package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.Tables
import graft.catalog.GraftCatalog
import graft.operators.Dedup
import graft.sources.{FileSource, Sink}

/** Incremental ingest, timed in the batch workload's traced run: batches
  * of new documents arrive at a table that keeps growing, and each is
  * deduplicated against a persisted near-dup index built over the
  * `documents` table. Each batch mixes exact copies of corpus documents,
  * near-dups (one word replaced) and novel documents. */
object IngestProbe {

  val BatchDocs = 200
  val ExactShare = 0.10
  val NearShare = 0.20
  val CompactEvery = 3
  val Stream = "docs_stream"

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** A generated batch: its rows, which corpus document each planted
    * exact copy came from, and the planted near-dups (one edited word). */
  final case class Batch(rows: Seq[Row], exact: Map[Long, Long], near: Map[Long, Long]) {
    def inputBytes: Long = rows.map(_.getString(1).getBytes("UTF-8").length.toLong).sum
  }

  def batch(rng: SplittableRandom, corpus: IndexedSeq[(Long, String)], vocab: IndexedSeq[String],
      firstId: Long): Batch = {
    val exact, near = Map.newBuilder[Long, Long]
    val rows = (0 until BatchDocs).map { i =>
      val id = firstId + i
      val r = rng.nextDouble()
      val text =
        if (r < ExactShare + NearShare) {
          val (src, t) = corpus(rng.nextInt(corpus.size))
          if (r < ExactShare) { exact += id -> src; t }
          else {
            val toks = t.split(' ')
            toks(rng.nextInt(toks.length)) = vocab(rng.nextInt(vocab.length))
            near += id -> src
            toks.mkString(" ")
          }
        } else Seq.fill(10 + rng.nextInt(91))(vocab(rng.nextInt(vocab.length))).mkString(" ")
      Row(id, text, "en", s"ingest${i % 4}", text.length.toLong)
    }
    Batch(rows, exact.result(), near.result())
  }

  /** The growing table lives in its own mounted database, `ingest`. */
  def db(c: Conf): String = s"${c.work}/ingestdb"
  def table(c: Conf): String = s"${db(c)}/$Stream.parquet"
  def index(c: Conf): String = s"${c.work}/index"

  /** Per-batch record: step timings, matches and the check failures. */
  final case class Step(ms: Map[String, Double], nearFound: Int, nearPlanted: Int,
      failures: Seq[String])

  /** The six steps for one batch. `written` is the row count before it. */
  def ingest(c: Conf, s: SparkSession, catalog: GraftCatalog, b: Batch, written: Long,
      n: Int): Step = {
    val t = ArrayBuffer.empty[(String, Double)]
    def step[T](name: String)(body: => T): T = {
      val (r, ms) = Common.timed(Trace.span(name)(body))
      t += name -> ms
      r
    }
    val fails = ArrayBuffer.empty[String]
    val df = s.createDataFrame(java.util.Arrays.asList(b.rows: _*), schema)
    step("sources.write")(Sink.parquet(df, table(c), mode = "append"))
    val readBack = step("sources.file_read")(FileSource.file(s, table(c), Some("parquet")).count())
    if (readBack != written + b.rows.size)
      fails += s"batch $n: read back $readBack rows, wrote ${written + b.rows.size}"
    val matches = step("operators.dedup_incr")(
      Dedup.dedupAgainstIndex(df, index(c)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet)
    b.exact.foreach { case (doc, src) =>
      if (!matches((doc, src))) fails += s"batch $n: planted exact copy $doc of $src not found"
    }
    val matched = matches.map(_._1)
    val survivors = b.rows.filterNot(r => matched(r.getLong(0)))
    step("operators.index_append")(Dedup.saveNearDupIndex(
      s.createDataFrame(java.util.Arrays.asList(survivors: _*), schema), index(c), mode = "append"))
    val listed = step("catalog.list_tables")(catalog.listTables("ingest"))
    val rows = listed.tables.find(_.name == Stream).map(_.totalRows).getOrElse(-1L)
    if (rows != written + b.rows.size)
      fails += s"batch $n: list_tables reports $rows rows in $Stream, wrote ${written + b.rows.size}"
    if (n % CompactEvery == CompactEvery - 1) step("sources.compact")(Sink.compactParquet(s, table(c)))
    Step(t.toMap, b.near.count(m => matches(m)), b.near.size, fails.toSeq)
  }

  /** Build the index, then ingest `batches` batches after two warm-up
    * ones. Returns the per-layer metrics and every failed check. */
  def run(c: Conf, s: SparkSession, batches: Int): (Map[String, Double], Seq[String]) = {
    val docs = Tables(s, c.data, "documents")
    Trace.span("operators.index_build")(Dedup.saveNearDupIndex(docs, index(c)))
    val corpus = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    // new text is drawn from the words of the generated documents
    val vocab = corpus.flatMap(_._2.split(' ')).distinct.sorted
    val catalog = new GraftCatalog(s, c.data, extraDatabases = Map("ingest" -> db(c)))
    val rng = new SplittableRandom(c.seed)
    var written, inputBytes = 0L
    val all = (0 until batches + 2).map { n =>
      val b = batch(rng, corpus, vocab, 10000000L + n.toLong * BatchDocs)
      val st = Trace.inRequest(Trace.newRequest())(Trace.span("ingest.batch")(
        ingest(c, s, catalog, b, written, n)))
      written += b.rows.size
      inputBytes += b.inputBytes
      st
    }
    val timed = all.drop(2)
    def med(name: String) = Stats.median(timed.flatMap(_.ms.get(name)))
    val layers = Map(
      "ingest.batch_ms" -> Stats.median(timed.map(_.ms.values.sum)),
      "sources.write_ms" -> med("sources.write"),
      "sources.file_read_ms" -> med("sources.file_read"),
      "sources.compact_ms" -> med("sources.compact"),
      "sources.bytes_written_per_input_byte" ->
        Common.bytesBelow(new java.io.File(table(c))).toDouble / inputBytes,
      "sources.files_written" -> Common.dataFiles(new java.io.File(table(c))).size.toDouble,
      "operators.dedup_incr_ms" -> med("operators.dedup_incr"),
      "operators.index_append_ms" -> med("operators.index_append"),
      "operators.planted_found_ratio" ->
        all.map(_.nearFound).sum.toDouble / math.max(1, all.map(_.nearPlanted).sum),
      "catalog.ingest_list_tables_ms" -> med("catalog.list_tables"),
      "catalog.ingest_files_listed" -> Common.dataFiles(new java.io.File(db(c))).size.toDouble)
    (layers, all.flatMap(_.failures))
  }
}
