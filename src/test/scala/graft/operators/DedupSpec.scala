package graft.operators

import graft.SparkSpec

class DedupSpec extends SparkSpec {

  test("exact dedup groups identical normalized text") {
    // NOTE: no temp view here — Dedup reads the parquet path directly,
    // and a leaked local `documents` view would shadow the real table
    // for every later SQL-surface test in the shared session
    val d = Dedup.dedupExact(spark, sf)
    assert(d.columns.toSeq == Seq("content_hash", "n_docs", "keep_doc"))
  }

  test("minhash candidates include a true near-duplicate pair") {
    val docs = graft.Tables(spark, sf, "documents")
    val pairs = Dedup.dedupMinhash(spark, sf).collect()
    // every candidate pair must be ordered and within the corpus
    val n = docs.count()
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(1) < n)
    }
  }

  test("jaccard output is a subset of minhash candidates with valid scores") {
    val cand = Dedup.dedupMinhash(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.dedupJaccard(spark, sf).collect()
    jac.foreach { r =>
      assert(cand.contains((r.getLong(0), r.getLong(1))))
      val j = r.getDouble(2)
      assert(j >= 0.1 && j <= 1.0)
    }
  }

  test("simhash of identical docs is identical, near docs are close") {
    import spark.implicits._
    val df = Seq(
      (1L, "spark table scan fast merge join"),
      (2L, "spark table scan fast merge join"), // identical
      (3L, "completely different words entirely novel")
    ).toDF("doc_id", "text")
    // run the same expression pipeline on a local frame via temp dir
    val tmp = java.nio.file.Files.createTempDirectory("simhash").toString
    df.write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val out = Dedup.dedupSimhash(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) == out(2L))
    assert(java.lang.Long.bitCount(out(1L) ^ out(3L)) > 5)
  }

  test("embedding cosine self-similarity bounds") {
    val rows = Dedup.dedupEmbedding(spark, sf).collect()
    rows.foreach { r =>
      val c = r.getDouble(2)
      assert(c >= 0.4 && c <= 1.0)
    }
  }

  test("cluster assignment: confirmed pairs co-clustered, min-id representative") {
    import org.apache.spark.sql.functions.col
    val pairs = Dedup.dedupJaccard(spark, sf).filter(col("jaccard") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val clusters = Dedup.dedupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
    }
    clusters.groupBy(_._2).foreach { case (c, members) =>
      assert(members.keys.min == c, s"cluster $c not labeled by min member")
    }
  }

  test("incremental dedup against a saved index matches the batch LSH path") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sf, "documents")
    val dir = java.nio.file.Files.createTempDirectory("graft_ndidx").toString

    Dedup.saveNearDupIndex(docs, dir)
    // replaying the same corpus as the "new batch": every batch-path
    // candidate pair must surface (both directions), self-pairs aside
    val inc = Dedup.dedupAgainstIndex(docs, dir, minEstJaccard = 0.4)
      .filter(col("new_doc") =!= col("corpus_doc"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // batch reference: LSH candidates scored by the same signature
    // estimate, symmetric closure
    val sigs = Dedup.signatures(docs)
    val batch = Dedup.dedupMinhash(spark, sf)
      .join(sigs.select(col("doc_id").as("doc_a"), col("sig").as("sa")), "doc_a")
      .join(sigs.select(col("doc_id").as("doc_b"), col("sig").as("sb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        expr("size(filter(zip_with(sa, sb, (a, b) -> a = b), x -> x))")
          .cast("double").as("agree"))
      .filter(col("agree") / 12 >= 0.4)
      .collect().flatMap(r =>
        Seq((r.getLong(0), r.getLong(1)), (r.getLong(1), r.getLong(0)))).toSet

    assert(inc.nonEmpty)
    assert(inc == batch,
      s"incremental-only: ${inc -- batch}; batch-only: ${batch -- inc}")

    // self-pairs estimate at exactly 1.0 (same signatures)
    val selfs = Dedup.dedupAgainstIndex(docs, dir, minEstJaccard = 0.999)
      .filter(col("new_doc") === col("corpus_doc")).count()
    assert(selfs == docs.count())
  }

  test("an index in the old (doc_id, bkey, band) layout fails naming the rebuild") {
    import spark.implicits._
    val docs = graft.Tables(spark, sf, "documents").limit(20)
    val dir = java.nio.file.Files.createTempDirectory("graft_ndold").toString
    Seq((1L, "0123456789abcdef0123456789abcdef", 0))
      .toDF("doc_id", "bkey", "band")
      .write.partitionBy("band").parquet(s"$dir/bands")
    Seq((1L, Seq.fill(12)(0L))).toDF("doc_id", "sig")
      .write.parquet(s"$dir/sigs")
    val e = intercept[IllegalArgumentException](
      Dedup.dedupAgainstIndex(docs, dir).collect())
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(e.getMessage.contains("saveNearDupIndex"), e.getMessage)
  }

  test("SRP bucket cap drops degenerate buckets instead of emitting n^2 pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 150 identical vectors: every band key collides, bucket size 150 > cap
    // 100 — the cap must drop them (contract: a non-discriminative bucket
    // at scale would otherwise emit quadratic pairs)
    val dir = java.nio.file.Files.createTempDirectory("graft_srp_cap").toString
    (0L until 150L).map(i => (i, Array.fill(8)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    assert(Dedup.dedupEmbedding(spark, dir).count() == 0)
    // under the cap the same construction DOES pair them up
    val small = java.nio.file.Files.createTempDirectory("graft_srp_ok").toString
    (0L until 10L).map(i => (i, Array.fill(8)(0.5f), 0))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$small/embeddings.parquet")
    val pairs = Dedup.dedupEmbedding(spark, small)
    assert(pairs.count() == 45) // all C(10,2) identical pairs, cos = 1.0
    assert(pairs.agg(org.apache.spark.sql.functions.min(col("cos_sim")))
      .head.getDouble(0) == 1.0)
  }

  test("SRP-blocked near-dup: subset of exact pairs, recall >= 0.8") {
    val exact = Dedup.dedupEmbeddingExact(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.dedupEmbedding(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact), "blocked pairs must pass the same exact-cosine filter")
    assert(exact.nonEmpty)
    val recall = blocked.size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall below 0.8 (${blocked.size}/${exact.size})")
  }
}
