package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Vector analytics over the `embeddings` table beyond search:
  * per-label centroids and dispersion (the building blocks of IVF
  * training, cluster QA and embedding-drift monitoring).
  *
  * Scale shape: centroids are computed by exploding (vec_id, pos,
  * component) and aggregating on (label, pos) — ONE shuffle keyed by
  * (label, dim) with full map-side partial aggregation; dimensions are
  * small (64) so the reduced state is tiny regardless of corpus size.
  */
object Embeddings {

  /** Per-label centroid norm + cohesion (avg cosine of members to the
    * label centroid, via the codegen'd cosineSimilarity). */
  val embCentroids: Q = (s, dir) => {
    graft.functions.CHFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

    // (label, pos) -> mean component; ONE wide dependency
    val centroids = e
      .select(col("label"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg(avg("x").as("cx"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("cx")))).as("pairs"))
      .select(col("label"),
        expr("transform(pairs, p -> p.cx)").as("centroid"))
      // one norm per label, computed here so the per-member regroup
      // below keys on it instead of carrying the centroid array
      .withColumn("centroid_norm", round(sqrt(expr(
        "aggregate(transform(centroid, x -> x * x), 0D, (a, x) -> a + x)")), 6))

    e.join(centroids, "label")
      .groupBy("label", "centroid_norm")
      .agg(
        count(lit(1)).as("n_vectors"),
        (round(avg(expr("cosineSimilarity(v, centroid)")), 6) + lit(0)).as("cohesion"))
      .select("label", "n_vectors", "centroid_norm", "cohesion")
      .orderBy("label")
  }

  /** D22: int8 scalar quantization — the memory side of ANN at scale
    * (4× smaller than float32, 8× smaller than float64 — the difference
    * between an index that fits executor memory and one that doesn't).
    * Per-dimension min/max ranges (ONE partial-agg shuffle of (pos,
    * min, max) triples, 64 reduced rows) broadcast back, every vector
    * encodes to `floor((x-mn)·255/(mx-mn)+0.5)` codes in a narrow pass,
    * and the report aggregates reconstruction quality per label: mean
    * absolute error and mean cosine between the vector and its
    * dequantized self (via the codegen'd cosine). The oracle replays
    * the identical arithmetic, so the match is exact up to the rounded
    * averages. */
  val embQuantize: Q = (s, dir) => {
    graft.functions.CHFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))

    val ranges = e
      .select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("pos"), col("mn"), col("mx")))).as("triples"))
      .select(
        expr("transform(triples, t -> t.mn)").as("mns"),
        expr("transform(triples, t -> t.mx)").as("mxs"))

    // encode + reconstruct + score fused in the native codegen'd
    // quantRecon — the interpreted HOF chain measured ~1 ms/row
    e.join(broadcast(ranges))
      .select(col("label"), expr("quantRecon(v, mns, mxs)").as("m"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vectors"),
        round(avg(col("m.abs_err")), 6).as("mean_abs_err"),
        round(avg(col("m.cos")), 6).as("mean_cos"))
      .orderBy("label")
  }

  val queries: Map[String, Q] = Map(
    "emb_centroids" -> embCentroids,
    "emb_quantize" -> embQuantize)

  val oracles: Map[String, String] = Map(
    "emb_centroids" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |comp AS (
        |  SELECT label, t.i AS pos, avg(v[t.i]) AS cx
        |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
        |  GROUP BY label, t.i),
        |cent AS (
        |  SELECT label, list(cx ORDER BY pos) AS centroid FROM comp GROUP BY label)
        |SELECT e.label, count(*) AS n_vectors,
        |  round(sqrt(list_sum(list_transform(any_value(cent.centroid), x -> x * x))), 6) AS centroid_norm,
        |  round(avg(list_cosine_similarity(e.v, cent.centroid)), 6) + 0 AS cohesion
        |FROM e JOIN cent ON e.label = cent.label
        |GROUP BY e.label ORDER BY e.label""".stripMargin,
    "emb_quantize" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |comp AS (
        |  SELECT t.i AS pos, min(v[t.i]) AS mn, max(v[t.i]) AS mx
        |  FROM e, unnest(generate_series(1, len(v))) AS t(i)
        |  GROUP BY t.i),
        |mm AS (SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs
        |       FROM comp),
        |q AS (
        |  SELECT label, v,
        |    list_transform(generate_series(1, len(v)), i ->
        |      CASE WHEN mxs[i] = mns[i] THEN 0
        |           ELSE CAST(least(255.0, greatest(0.0,
        |             floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5))) AS INT)
        |      END) AS code
        |  FROM e CROSS JOIN mm),
        |d AS (
        |  SELECT label, v,
        |    list_transform(generate_series(1, len(v)), i ->
        |      mns[i] + code[i] * (mxs[i] - mns[i]) / 255.0) AS dq
        |  FROM q CROSS JOIN mm)
        |SELECT label, count(*) AS n_vectors,
        |  round(avg(list_sum(list_transform(generate_series(1, len(v)),
        |    i -> abs(v[i] - dq[i]))) / len(v)), 6) AS mean_abs_err,
        |  round(avg(list_cosine_similarity(v, dq)), 6) AS mean_cos
        |FROM d GROUP BY label ORDER BY label""".stripMargin)
}
