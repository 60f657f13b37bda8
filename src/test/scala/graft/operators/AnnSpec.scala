package graft.operators

import graft.SparkSpec

class AnnSpec extends SparkSpec {

  /** sf0.01 has 500 vectors — enough cells/probes to be meaningful. */
  private val dir = "/root/testdata/sf0.01"

  private def topSets(rows: Array[org.apache.spark.sql.Row]): Map[Long, Set[Long]] =
    rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.map(_.getLong(1)).toSet
    }

  test("brute force returns k ordered neighbors per query") {
    val rows = Ann.annBruteforce(spark, dir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10)
    byQ.values.foreach { rs =>
      assert(rs.length == 5)
      val sims = rs.sortBy(_.getInt(3)).map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("IVF recall@5 vs brute force is useful") {
    val truth = topSets(Ann.annBruteforce(spark, dir).collect())
    val approx = topSets(Ann.annIvf(spark, dir).collect())
    val recall = truth.keys.toSeq.map { q =>
      (truth(q) & approx.getOrElse(q, Set.empty)).size.toDouble / truth(q).size
    }.sum / truth.size
    info(s"IVF recall@5 = $recall")
    // nprobe=4 of 16 cells: must beat random cell scan by a wide margin
    assert(recall >= 0.5)
  }

  test("quantized search recalls the float top-k almost exactly") {
    val truth = topSets(Ann.annBruteforce(spark, dir).collect())
    val quant = topSets(Ann.annQuantized(spark, dir).collect())
    val recall = truth.keys.toSeq.map { q =>
      (truth(q) & quant.getOrElse(q, Set.empty)).size.toDouble / truth(q).size
    }.sum / truth.size
    info(s"int8 recall@5 = $recall")
    // 8-bit codes shift cosines ~1e-3; rankings should barely move
    assert(recall >= 0.9)
  }

  test("PQ shortlist + exact rerank recalls the float top-k") {
    val truth = topSets(Ann.annBruteforce(spark, dir).collect())
    val pq = Ann.annPq(spark, dir).collect()
    val approx = topSets(pq)
    val recall = truth.keys.toSeq.map { q =>
      (truth(q) & approx.getOrElse(q, Set.empty)).size.toDouble / truth(q).size
    }.sum / truth.size
    info(s"PQ recall@5 = $recall")
    // 50-candidate ADC shortlist of 500 vectors, reranked exactly: the
    // shortlist only needs to CONTAIN the top-5; rerank fixes the order
    assert(recall >= 0.7)
    // reranked similarities are exact cosines in exact descending order
    val truthRows = Ann.annBruteforce(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    pq.foreach { r =>
      truthRows.get((r.getLong(0), r.getLong(1))).foreach { exact =>
        assert(math.abs(exact - r.getDouble(2)) < 1e-9,
          s"PQ emitted a non-exact cosine for ${r.getLong(0)}->${r.getLong(1)}")
      }
    }
  }

  test("IVF scans only probed cells (candidate pruning)") {
    val nCand = Ann.annIvf(spark, dir).count()
    assert(nCand <= 10L * 5)
  }

  test("training + assignment path has no window exchange") {
    val e = graft.Tables(spark, dir, "embeddings")
      .select(org.apache.spark.sql.functions.col("vec_id"),
        org.apache.spark.sql.functions.col("embedding").cast("array<double>")
          .as("v"))
    graft.functions.CHFunctions.register(spark)
    val cents = Ann.trainCentroids(e, 16, iters = 1)
    val assigned = Ann.assignCells(e, cents, "vec_id", "v")
    val plan = assigned.queryExecution.executedPlan.toString()
    assert(!plan.contains("Window"), plan.take(600))
    // r20: assignment is a pure projection over the literal centroid
    // table — no join, no aggregate, no exchange anywhere in the plan
    assert(!plan.contains("Exchange"), plan.take(600))
    assert(!plan.contains("Aggregate"), plan.take(600))
    assert(plan.toLowerCase.contains("nearestcell"), plan.take(600))
  }

  test("assignCells projection matches the max_by aggregate it replaced") {
    // r20 rewired cell assignment from
    //   df × cents → max_by(cell, struct(ccos, -cell)) GROUP BY id
    // onto the per-row NearestCell projection. This pins the equivalence
    // on the hostile cases: an all-zero vector (every cosine 0.0 — a
    // full-table tie that must keep the LOWEST cell id), a vector
    // exactly between two centroids (bit-identical scores, same tie
    // rule), and negative similarities (the scan must not treat the 0.0
    // initial as a sentinel floor). NOTE the shapes agree only while
    // idCol is unique per row — true for every caller (vec_id is the
    // embeddings primary key); duplicate ids would aggregate to one row
    // in the old shape but stay per-row in the projection.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.CHFunctions.register(spark)
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0)),
      (3L, Seq(0.0, 0.0, 0.0)), // zero norm: all scores 0.0, tie → cell 0
      (4L, Seq(1.0, 1.0, 0.0)), // equidistant from cells 0 and 1 → cell 0
      (5L, Seq(-1.0, -1.0, -1.0)), // best score negative
      (6L, Seq(0.3, -0.2, 0.9))
    ).toDF("vec_id", "v")
    val cents = Seq(
      (0L, Seq(1.0, 0.0, 0.0)),
      (1L, Seq(0.0, 1.0, 0.0)),
      (2L, Seq(0.0, 0.0, 1.0))).toDF("cell", "cv")
    val got = Ann.assignCells(df, cents, "vec_id", "v")
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getLong(1)))
      .toSeq.sorted
    val old = df.join(broadcast(cents))
      .select(col("vec_id"), col("cell"),
        expr("cosineSimilarity(v, cv)").as("ccos"))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == old)
    assert(got.toMap.apply(3L) == 0L) // zero-norm tie keeps lowest cell
    assert(got.toMap.apply(4L) == 0L) // exact score tie keeps lowest cell
  }

  test("pqEncode projection matches the min_by aggregate it replaced") {
    // PQ encoding used to explode each vector × (subspace, cell),
    // score L2² on the vector's slice and keep
    //   min_by(cell, struct(d2, cell)) GROUP BY (vec_id, sub).
    // Hostile cases: a codeword with a NaN element (its distance is
    // NaN, which Spark's struct ordering ranks above every number, so
    // a finite cell after it must win), a subspace whose codewords are
    // ALL NaN (NaN ties keep the lowest cell), two identical codewords
    // (exact distance tie keeps the lowest cell) and a NaN vector
    // element (every distance NaN).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    graft.functions.CHFunctions.register(spark)
    val nan = Double.NaN
    val df = Seq(
      (1L, Seq(1.0, 0.0, 0.0, 1.0)),
      (2L, Seq(0.0, 1.0, 1.0, 0.0)),
      (3L, Seq(0.5, 0.5, 0.2, 0.8)),
      (4L, Seq(nan, 0.0, 0.0, 0.0)),
      (5L, Seq(-1.0, 2.0, 0.0, 0.0))
    ).toDF("vec_id", "v")
    val book = Seq(
      // sub 0: cell 0 is NaN, cells 1 and 2 are the same codeword
      (0, 0L, Seq(nan, 0.0)),
      (0, 1L, Seq(0.0, 1.0)),
      (0, 2L, Seq(0.0, 1.0)),
      (0, 3L, Seq(1.0, 0.0)),
      // sub 1: every codeword carries a NaN
      (1, 0L, Seq(nan, 1.0)),
      (1, 1L, Seq(0.0, nan)))
    val got = df.select(col("vec_id"),
        call_function("pqEncode", col("v"), typedlit(book)).as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .toSeq.sortBy(_._1)
    val old = df.crossJoin(book.toDF("sub", "cell", "cv"))
      .select(col("vec_id"), col("sub"), col("cell"),
        expr("L2SquaredDistance(slice(v, sub * 2 + 1, 2), cv)").as("d2"))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("cell"), struct(col("d2"), col("cell"))).as("cell"))
      .groupBy("vec_id")
      .agg(expr("transform(array_sort(collect_list(struct(sub, cell))), " +
        "x -> x.cell)").as("codes"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq))
      .toSeq.sortBy(_._1)
    assert(got == old)
    val codes = got.toMap
    assert(codes(1L) == Seq(3L, 0L)) // finite cell beats the NaN cell 0
    assert(codes(2L) == Seq(1L, 0L)) // identical codewords: lowest cell
    assert(codes(4L) == Seq(0L, 0L)) // NaN element: all NaN, lowest cell
  }

  test("saved IVF index reproduces live search and prunes to probed cells") {
    import org.apache.spark.sql.functions._
    val idx = java.nio.file.Files.createTempDirectory("graft_ivf").toString
    Ann.saveIndex(spark, sf, idx)
    // cell directories exist on disk (partitioned layout)
    val cellDirs = new java.io.File(s"$idx/cells").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell="))
    assert(cellDirs.length > 1)
    val queries = graft.Tables(spark, sf, "embeddings")
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").cast("array<double>").as("qv"))
    val fromIndex = Ann.searchIndex(spark, idx, queries)
    // identical results to the live (train+search) path: same seed, same
    // deterministic training, same probe rule
    val live = Ann.annIvf(spark, sf)
    assert(fromIndex.collect().toSeq == live.collect().toSeq)
    // the scan is dynamically pruned to the probed cell partitions
    val plan = fromIndex.queryExecution.executedPlan.toString()
    assert(plan.contains("dynamicpruning"), plan.take(800))
  }

  test("int8 quantization preserves cosine geometry within tight bounds") {
    val out = Embeddings.embQuantize(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (label, err, cos) = (r.get(0), r.getDouble(2), r.getDouble(3))
      // 8-bit codes over the observed range: tiny reconstruction error,
      // near-perfect angular fidelity — the index stays usable at 1/4
      // the float32 footprint
      assert(err < 0.01, s"label $label mean_abs_err $err")
      assert(cos > 0.999, s"label $label mean_cos $cos")
    }
  }
}
