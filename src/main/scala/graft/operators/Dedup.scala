package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Deduplication operators for LLM training-data pipelines (SURVEY §2
  * D1-D5): exact, MinHash+LSH, SimHash, n-gram Jaccard and embedding
  * cosine near-dup.
  *
  * Scale design (100 TB):
  *  - signatures (minhash/simhash/fingerprints) are per-row map-side
  *    expressions over array HOFs — no shuffle, no UDFs, fully
  *    codegen-compatible;
  *  - candidate pairs come ONLY from equal LSH band keys: the single
  *    wide dependency is a shuffle on (band, band_key); no O(n²)
  *    cartesian ever materializes;
  *  - oversized buckets (degenerate keys, e.g. boilerplate docs) are
  *    capped at [[maxBucket]] docs — a non-discriminative bucket at 100 TB
  *    would otherwise emit quadratic pairs. The cap is part of the
  *    operator's contract and the oracle applies the same cap;
  *  - the Jaccard verification join ships shingle sets only for the
  *    surviving candidate pairs.
  *
  * The exact-cosine variant (D5) is the brute-force baseline — the scale
  * path for embeddings is the bucketed ANN in [[Ann]].
  */
object Dedup {

  private val NumHashes = 12
  private val Bands = 6 // rows per band = NumHashes / Bands = 2
  private val maxBucket = 100

  /** Whitespace-normalized lowercase text — the dedup key space.
    * r21: collapseSpaces/spaceSplit are byte-exact regex-free twins of
    * regexp_replace(.., " +", " ") / split(.., " ") — the java.util
    * .regex passes were a measurable slice of the one corpus scan every
    * dedup query starts with. Callers must register CHFunctions. */
  private val norm: Column =
    call_function("collapseSpaces", trim(lower(col("text"))))

  private val normToks: Column = call_function("spaceSplit", norm)

  /** D1: exact dedup on the md5 of normalized text; keeps min doc_id. */
  val dedupExact: Q = (s, dir) => {
    graft.functions.CHFunctions.register(s)
    Tables(s, dir, "documents")
      .groupBy(md5(norm).as("content_hash"))
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc"))
      .orderBy("keep_doc")
  }

  /** Word 3-gram shingles of the normalized text (docs shorter than 3
    * tokens get one whole-text shingle). r20: built by the native
    * [[graft.functions.WordShingles]] — the former
    * transform(sequence)/slice/concat_ws HOF ran an interpreted lambda
    * and two allocations per shingle; same strings, one codegen'd loop. */
  private def withShingles(df: DataFrame): DataFrame = {
    graft.functions.CHFunctions.register(df.sparkSession)
    df.withColumn("toks", normToks)
      .withColumn("shingles", expr("wordShingles(toks, 3)"))
  }

  /** Per-doc minhash signature via the native one-pass
    * [[graft.functions.MinHashSig]] expression (one md5 per shingle,
    * universal-hash variants). The identical integer arithmetic runs in
    * the oracle, so signatures are engine-portable. */
  private def withSignature(df: DataFrame): DataFrame =
    withShingles(df).withColumn("sig", expr("minHashSig(shingles)"))

  /** The per-doc (band, ka, kb) rows of a signature frame: the band
    * key IS the band's signature-component pair. r21 (guide §2.3
    * "shuffle keys instead of payloads" / §1.2 per-task work): the old
    * key was md5(concat(string(h_2j), string(h_2j+1))) — twelve
    * long→string casts plus six md5-to-hex calls PER DOC whose only
    * job was to identify the pair, and the bucket shuffle carried a
    * 32-char string key. The raw pair is exact (two buckets are equal
    * iff the pair is), 16 bytes, and free to derive. The oracle keeps
    * its md5(concat(str(a), str(b))) key, which can MERGE buckets the
    * pair keeps apart: the concatenation aliases ((1, 23) and (12, 3)
    * both read "123"), as does an md5 collision. Candidate pairs match
    * the oracle except in those rare cases, where the oracle may hold
    * extra pairs. */
  private def bandKeys(sigDf: DataFrame): DataFrame = {
    val bandStructs = (0 until Bands).map { j =>
      struct(lit(j).as("band"),
        col("sig").getItem(2 * j).as("ka"),
        col("sig").getItem(2 * j + 1).as("kb"))
    }
    sigDf.select(col("doc_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("doc_id"), col("b.band").as("band"),
        col("b.ka").as("ka"), col("b.kb").as("kb"))
  }


  /** Public signature surface: (doc_id, sig) minhash signatures. */
  def signatures(docs: DataFrame): DataFrame = {
    graft.functions.CHFunctions.register(docs.sparkSession)
    withSignature(docs).select(col("doc_id"), col("sig"))
  }

  /** D25: persist the near-dup index of a corpus — band keys
    * (PARTITIONED BY band) + minhash signatures. Built once per corpus
    * in one narrow signature pass + one explode; appending a day's
    * batch is `mode = "append"` of just that batch's rows. Buckets
    * over [[maxBucket]] docs are dropped at save (degenerate boilerplate
    * keys would make every future lookup quadratic — same contract as
    * the batch path). */
  def saveNearDupIndex(docs: DataFrame, indexDir: String,
      mode: String = "overwrite"): Unit = {
    // eager checkpoint: the raw-text shingle+minhash pass is the
    // dominant cost of this operator — without it the sigs write, the
    // bands write and the bucket-size aggregate would each re-derive
    // the lazy signature frame, scanning the corpus ~3x. Narrowed to
    // the consumed columns BEFORE checkpointing (r20): the full frame
    // pinned text/toks/shingles too.
    val sig = signaturesNarrow(docs).localCheckpoint()
    sig.select(col("doc_id"), col("sig"))
      .write.mode(mode).parquet(s"$indexDir/sigs")
    val bands = bandKeys(sig)
    val bucketSizes = bands.groupBy("band", "ka", "kb")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select(col("band").as("fband"), col("ka").as("fka"),
        col("kb").as("fkb"))
    bands.join(bucketSizes,
        col("band") === col("fband") && col("ka") === col("fka") &&
          col("kb") === col("fkb"))
      .select(col("doc_id"), col("ka"), col("kb"), col("band"))
      .write.mode(mode).partitionBy("band").parquet(s"$indexDir/bands")
  }

  /** D25: dedup a NEW batch against a saved index without rescanning
    * the corpus. The batch computes its signatures narrowly, its band
    * keys join the persisted band table (shuffle sized by the batch;
    * the corpus contributes a partitioned lookup, not a scan of raw
    * text), and surviving candidates score by the MinHash Jaccard
    * ESTIMATE — the fraction of agreeing signature components — so
    * corpus text is never touched. Returns (new_doc, corpus_doc,
    * est_jaccard ≥ threshold). */
  def dedupAgainstIndex(newDocs: DataFrame, indexDir: String,
      minEstJaccard: Double = 0.5): DataFrame = {
    val spark = newDocs.sparkSession
    // eager checkpoint: the batch's shingle+minhash pass feeds BOTH
    // the band-key probe and the signature-agreement join — without
    // it the raw batch text is re-shingled and re-hashed twice.
    // Narrowed to the consumed columns (r20), like saveNearDupIndex.
    val newSig = signaturesNarrow(newDocs).localCheckpoint()
    // re-apply the bucket cap at READ time: each append enforced it
    // only within its own batch, so a degenerate key can accumulate
    // past maxBucket across appends — the cap must hold over the
    // merged index or one boilerplate bucket makes every future
    // lookup quadratic. The size aggregate runs over the compact band
    // table (6 rows/doc), never raw text.
    val idx = readBands(spark, indexDir)
    val okBuckets = idx.groupBy("band", "ka", "kb")
      .agg(count(lit(1)).as("bsz"))
      .filter(col("bsz") <= maxBucket)
      .select("band", "ka", "kb")
    val cand = bandKeys(newSig).select(col("doc_id").as("new_doc"),
        col("band"), col("ka"), col("kb"))
      .join(idx.join(okBuckets, Seq("band", "ka", "kb"))
        .select(col("doc_id").as("corpus_doc"), col("band"), col("ka"),
          col("kb")),
        Seq("band", "ka", "kb"))
      .select("new_doc", "corpus_doc").distinct()
    cand
      .join(newSig.select(col("doc_id").as("new_doc"), col("sig").as("nsig")),
        "new_doc")
      .join(spark.read.parquet(s"$indexDir/sigs")
        .select(col("doc_id").as("corpus_doc"), col("sig").as("csig")),
        "corpus_doc")
      .select(col("new_doc"), col("corpus_doc"),
        round(expr("""size(filter(zip_with(nsig, csig, (a, b) -> a = b),
                     |            x -> x))""".stripMargin).cast("double") /
          lit(NumHashes), 6).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
      .orderBy("new_doc", "corpus_doc")
  }

  /** The persisted band table. The older layout keyed bands by an md5
    * `bkey` string instead of the raw (ka, kb) pair; reading it
    * would die later on an unresolved column, so refuse it here and
    * name the fix. The schema itself is the layout marker. */
  private def readBands(spark: SparkSession, indexDir: String): DataFrame = {
    val bands = spark.read.parquet(s"$indexDir/bands")
    val have = bands.columns.map(_.toLowerCase).toSet
    if (!have("ka") || !have("kb"))
      throw new IllegalArgumentException(
        s"near-dup index at $indexDir uses an old band layout " +
          s"(columns: ${bands.columns.mkString(", ")}; need ka, kb) — " +
          "rebuild it with Dedup.saveNearDupIndex")
    bands
  }

  private def signaturesFull(docs: DataFrame): DataFrame = {
    graft.functions.CHFunctions.register(docs.sparkSession)
    withSignature(docs)
  }

  /** The columns the index flows actually consume: doc_id and the sig
    * array (band keys derive from sig directly since r21).
    * localCheckpoint materializes a frame AS-IS (no downstream column
    * pruning reaches through it), so checkpointing [[signaturesFull]]
    * unprojected pinned text + toks + shingles — the whole raw corpus
    * again, several times the useful payload (r20, guide §2.3). */
  private def signaturesNarrow(docs: DataFrame): DataFrame =
    signaturesFull(docs).select(col("doc_id"), col("sig"))

  /** Distinct candidate pairs (doc_a < doc_b) sharing any band key.
    *
    * Single wide dependency: ONE shuffle on (band, band_key). Each bucket
    * collects its (≤ [[maxBucket]], enforced here — oversized buckets are
    * non-discriminative and would emit quadratic pairs) sorted doc ids and
    * emits the in-bucket combinations with an array HOF — no self-join, so
    * the signature pipeline is computed exactly once. */
  private def candidatePairs(docs: DataFrame): DataFrame = {
    graft.functions.CHFunctions.register(docs.sparkSession)
    bandKeys(withSignature(docs))
      .groupBy(col("band"), col("ka"), col("kb"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2),
          |  i -> transform(sequence(i + 1, size(ids) - 1),
          |    j -> named_struct('doc_a', ids[i], 'doc_b', ids[j]))))""".stripMargin))
        .as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
  }

  /** D2: MinHash + LSH near-dup candidate pairs. */
  val dedupMinhash: Q = (s, dir) =>
    candidatePairs(Tables(s, dir, "documents")).orderBy("doc_a", "doc_b")

  /** D4: true n-gram Jaccard over the LSH candidates — brings shingle
    * sets to candidate pairs only, never all pairs. (Measured note:
    * fusing the set-verify into the band bucket, as [[dedupEmbedding]]
    * does for vectors, was tried and REGRESSED here — shingle sets
    * are an order of magnitude wider than embeddings, so Bands×
    * set-replication through the bucket shuffle costs more than the
    * two candidate joins it saves.) */
  val dedupJaccard: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    val sets = withShingles(docs)
      .select(col("doc_id"), array_distinct(col("shingles")).as("sset"))
    // ONE sets pass, ONE sets join (r20, guide §2.3/§3): the old shape
    // joined `sets` twice (once per pair side), and since the candidate
    // side's size is unknown to the planner it BROADCAST the corpus-wide
    // shingle-set table twice — collect + rebroadcast of the widest
    // intermediate in the pipeline, measured as ~2/3 of the query at
    // sf1. Exploding each pair into its two (pair, doc_id) sides turns
    // the verification into a single doc_id-keyed join the sets table
    // flows through exactly once, then one tiny per-pair regroup.
    val sides = candidatePairs(docs)
      .select(col("doc_a"), col("doc_b"),
        explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
    // shuffle_hash hint: the planner sizes `sets` from the parquet
    // FOOTER of documents (a few MB compressed) and broadcasts it — but
    // the computed shingle-set arrays are ~50× the source bytes, so the
    // broadcast build (driver collect + hash relation of the widest
    // frame in the pipeline) measured 10-16 s of the query at sf1.
    // Shuffled-hash keeps the build per-partition (sets/numPartitions),
    // no driver round-trip, no sort of the wide arrays.
    sides.join(sets.hint("shuffle_hash"), "doc_id")
      .groupBy("doc_a", "doc_b")
      // each pair regroups exactly its two sides and doc_a < doc_b, so
      // the lower doc id's set is a's; the registered min_by/max_by keep
      // the array-valued pick hash-aggregable (graft.functions.TypedMinMax)
      .agg(
        call_function("min_by", col("sset"), col("doc_id")).as("sa"),
        call_function("max_by", col("sset"), col("doc_id")).as("sb"))
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb"))), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.1)
      .orderBy("doc_a", "doc_b")
  }

  /** D3: 60-bit SimHash per doc via the native codegen'd
    * [[graft.functions.SimHash60]] expression (top 60 bits of md5 per
    * token, per-bit majority vote). Zero shuffle; the portable SQL
    * formulation of the same rule is what the oracle runs. */
  val dedupSimhash: Q = (s, dir) => {
    graft.functions.CHFunctions.register(s)
    Tables(s, dir, "documents")
      .withColumn("toks", normToks)
      .select(col("doc_id"), expr("simHash(toks)").as("simhash"))
      .orderBy("doc_id")
  }

  private val cosThreshold = 0.4

  /** D5: embedding cosine near-dup, SRP-LSH blocked — NO cartesian.
    * Candidates come only from equal (band, key) buckets of the
    * deterministic [[graft.functions.SrpBandKeys]] signature (same
    * bucket-cap contract as minhash), then the exact codegen'd cosine
    * runs on candidates only. Work is ≤ Bands × n × cap/2 pairs —
    * linear in n, vs O(n²) for the exact baseline (kept below as
    * [[dedupEmbeddingExact]] for recall measurement in DedupSpec).
    * The oracle replicates the identical md5-plane arithmetic
    * ([[graft.functions.SrpBandKeys.duckdbKeysSql]]), so results match
    * bit-for-bit. Measured recall vs exact: 0.86 at sf0.01, 0.91 at
    * sf0.1 — and the 0.4 threshold here is the adversarial case for
    * LSH (66° apart); at real near-dup thresholds (≥0.8) recall ≈ 1. */
  val dedupEmbedding: Q = (s, dir) => {
    graft.functions.CHFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // candidate generation and cosine VERIFY fused into the bucket:
    // vectors ride the (band, bkey) shuffle alongside their ids, the
    // exact cosine runs on in-bucket pairs where both vectors are
    // already local, and only pairs PASSING the threshold reach the
    // cross-band dedup shuffle (tiny). One wide stage over 6×|e|
    // replaces the old distinct + two candidate joins (2×|e| shuffled
    // plus two join states) — fewer stages, no join state, and the
    // expensive table never shuffles by pair id. For very wide
    // vectors where per-band replication dominates, the ids-only
    // banding + candidate-join shape survives in
    // [[dedupAgainstIndex]] / [[Ann]].
    e.select(posexplode(expr("srpBandKeys(v)")).as(Seq("band", "bkey")),
        col("vec_id"), col("v"))
      .groupBy("band", "bkey")
      .agg(array_sort(collect_list(struct(col("vec_id"), col("v"))))
        .as("items"))
      .filter(size(col("items")).between(2, maxBucket))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(items) - 2),
          |  i -> transform(sequence(i + 1, size(items) - 1),
          |    j -> named_struct(
          |      'vec_a', items[i].vec_id, 'vec_b', items[j].vec_id,
          |      'cos_sim',
          |      round(cosineSimilarity(items[i].v, items[j].v), 4)))))"""
          .stripMargin)).as("p"))
      .select(col("p.vec_a"), col("p.vec_b"), col("p.cos_sim"))
      .filter(col("cos_sim") >= cosThreshold)
      .groupBy("vec_a", "vec_b") // a pair can collide in several bands
      .agg(first(col("cos_sim")).as("cos_sim"))
      .orderBy("vec_a", "vec_b")
  }

  /** The exact O(n²) all-pairs baseline — NOT in [[queries]]; DedupSpec
    * uses it (at sf0.001 only) to measure the blocked form's recall. */
  private[graft] val dedupEmbeddingExact: Q = (s, dir) => {
    graft.functions.CHFunctions.register(s)
    val e = Tables(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val a = e.select(col("vec_id").as("vec_a"), col("v").as("va"))
    val b = e.select(col("vec_id").as("vec_b"), col("v").as("vb"))
    a.crossJoin(b).filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        round(expr("cosineSimilarity(va, vb)"), 4).as("cos_sim"))
      .filter(col("cos_sim") >= cosThreshold)
      .orderBy("vec_a", "vec_b")
  }

  /** D14: duplicate-cluster assignment — connected components over the
    * confirmed near-dup pairs (Jaccard ≥ 0.3, the same edge set
    * [[Pipeline]] drops from), so "keep one doc per duplicate CLUSTER"
    * becomes a single join instead of repeated pairwise reasoning.
    *
    * Min-label propagation: every node starts as its own label and
    * each round takes the min over neighbors; converges in
    * O(component diameter) rounds — near-dup clusters are shallow in
    * practice, and the loop stops at the fixpoint. Convergence is
    * detected from the label-sum, one tiny aggregate over the label
    * table, never the corpus; the lazy per-round checkpoint makes that
    * aggregate the SAME job that materializes the round, so each round
    * costs exactly one Spark job. At extreme diameters you'd switch to
    * large-star/small-star; the per-round plan here (edge join + min
    * agg, all partial-agg friendly) is the same building block. The
    * oracle computes the identical fixpoint with a recursive CTE. */
  val dedupClusters: Q = (s, dir) => {
    val confirmed = dedupJaccard(s, dir)
      .filter(col("jaccard") >= 0.3)
      .select(col("doc_a"), col("doc_b"))
    val edges = confirmed
      .union(confirmed.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .distinct()
      // pre-partitioned on the per-round join key: the checkpoint
      // preserves the hash partitioning, so every round's edge⨝label
      // join shuffles only the (smaller) label side
      .repartition(col("doc_b"))
      .localCheckpoint() // reuse across rounds without re-running LSH
    // seed with round 1 for free: identity labels make the first
    // neighbor-min pass a plain per-node aggregation over the edge list,
    // so fold it into initialization and save one join round
    var labels = edges.groupBy(col("doc_a").as("doc_id"))
      .agg(least(col("doc_a"), min(col("doc_b"))).as("cluster_id"))
    // labels only ever DECREASE (least of self and neighbors), so the
    // label-sum strictly drops iff any label changed — convergence is
    // one aggregate scan of the (small) label table, not a join.
    // coalesce: sum over an EMPTY label table (no confirmed pairs at
    // all) is null, which must read as "converged", not crash.
    def labelSum(df: org.apache.spark.sql.DataFrame): Long =
      df.agg(coalesce(sum("cluster_id"), lit(0L))).head.getLong(0)
    var prevSum = Long.MinValue
    var curSum = labelSum(labels)
    var rounds = 0
    while (curSum != prevSum && rounds < 20) {
      // one round = one join + one partial-agg shuffle: each node's
      // own label rides the union as a self-candidate, so the
      // neighbor-min and the keep-own-label-if-smaller fold into a
      // single min aggregate (the old shape spent a third wide op
      // re-joining the neighbor mins back onto the label table)
      labels = edges
        .join(labels.select(col("doc_id").as("doc_b"),
          col("cluster_id").as("cand")), "doc_b")
        .select(col("doc_a").as("doc_id"), col("cand"))
        .unionByName(labels.select(col("doc_id"),
          col("cluster_id").as("cand")))
        .groupBy("doc_id")
        .agg(min("cand").as("cluster_id"))
        .localCheckpoint(false) // flat lineage; materialized by labelSum below
      prevSum = curSum
      curSum = labelSum(labels)
      rounds += 1
    }
    // a component with diameter > the round cap would exit the loop
    // before the fixpoint and silently diverge from the recursive-CTE
    // oracle — fail loudly instead of returning partial labels
    if (curSum != prevSum)
      throw new IllegalStateException(
        s"dedupClusters: min-label propagation did not converge in $rounds " +
          "rounds (component diameter exceeds the cap); raise the cap or " +
          "switch to large-star/small-star for this corpus")
    labels.orderBy("doc_id")
  }

  /** D25 as a driver query: index the even-id half of the corpus to a
    * scratch directory, then dedup the odd-id half against it — the
    * daily-batch flow in miniature, end-to-end through the persisted
    * index. The oracle replays the identical split, cap, band join and
    * signature-agreement estimate. */
  val dedupIncremental: Q = (s, dir) => {
    val docs = Tables(s, dir, "documents")
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_ndidx").toString
    saveNearDupIndex(docs.filter(col("doc_id") % 2 === 0), idxDir)
    dedupAgainstIndex(docs.filter(col("doc_id") % 2 === 1), idxDir,
      minEstJaccard = 0.4)
  }

  val queries: Map[String, Q] = Map(
    "dedup_exact" -> dedupExact,
    "dedup_incremental" -> dedupIncremental,
    "dedup_minhash" -> dedupMinhash,
    "dedup_jaccard" -> dedupJaccard,
    "dedup_simhash" -> dedupSimhash,
    "dedup_embedding" -> dedupEmbedding,
    "dedup_clusters" -> dedupClusters)

  /** Shared oracle CTEs: normalized tokens → shingles → signature →
    * bands (same md5 construction as the Spark side). */
  private val shingleCte =
    """WITH t AS (SELECT doc_id,
      |    string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' ') AS toks
      |  FROM documents),
      |sh AS (SELECT doc_id,
      |    list_transform(generate_series(1, greatest(len(toks) - 2, 1)),
      |                   i -> array_to_string(toks[i:i+2], ' ')) AS shingles
      |  FROM t)""".stripMargin

  private val sigSelect =
    graft.functions.MinHashSig.duckdbSigColumns("shingles").mkString(",\n    ")

  private val bandUnion = (0 until Bands)
    .map(j => s"SELECT doc_id, $j AS band, " +
      s"md5(CAST(h${2 * j} AS VARCHAR) || CAST(h${2 * j + 1} AS VARCHAR)) AS bkey FROM sig")
    .mkString("\n  UNION ALL ")

  private val pairCte =
    s"""$shingleCte,
       |sig AS (SELECT doc_id,
       |    $sigSelect
       |  FROM sh),
       |allbands AS (
       |  $bandUnion),
       |bands AS (
       |  SELECT * FROM allbands
       |  WHERE (band, bkey) IN (SELECT (band, bkey) FROM allbands
       |                         GROUP BY band, bkey HAVING count(*) <= $maxBucket)),
       |pairs AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  private val jaccardOracle =
    s"""$pairCte,
       |sets AS (SELECT doc_id, list_distinct(shingles) AS sset FROM sh)
       |SELECT doc_a, doc_b,
       |  round(len(list_intersect(sa.sset, sb.sset)) /
       |        CAST(len(list_distinct(list_concat(sa.sset, sb.sset))) AS DOUBLE), 6) AS jaccard
       |FROM pairs
       |JOIN sets sa ON sa.doc_id = doc_a
       |JOIN sets sb ON sb.doc_id = doc_b
       |WHERE round(len(list_intersect(sa.sset, sb.sset)) /
       |      CAST(len(list_distinct(list_concat(sa.sset, sb.sset))) AS DOUBLE), 6) >= 0.1""".stripMargin

  private val sigAgreement = (0 until NumHashes)
    .map(h => s"CASE WHEN a.h$h = b.h$h THEN 1 ELSE 0 END")
    .mkString(" + ")

  val oracles: Map[String, String] = Map(
    "dedup_incremental" ->
      s"""$shingleCte,
         |sig AS (SELECT doc_id,
         |    $sigSelect
         |  FROM sh),
         |allbands AS (
         |  $bandUnion),
         |inc AS (
         |  SELECT DISTINCT n.doc_id AS new_doc, c.doc_id AS corpus_doc
         |  FROM allbands n JOIN allbands c
         |    ON n.band = c.band AND n.bkey = c.bkey
         |  WHERE n.doc_id % 2 = 1 AND c.doc_id % 2 = 0
         |    AND (c.band, c.bkey) IN (
         |      SELECT (band, bkey) FROM allbands WHERE doc_id % 2 = 0
         |      GROUP BY band, bkey HAVING count(*) <= $maxBucket))
         |SELECT new_doc, corpus_doc,
         |  round(($sigAgreement) / $NumHashes.0, 6) AS est_jaccard
         |FROM inc
         |JOIN sig a ON a.doc_id = new_doc
         |JOIN sig b ON b.doc_id = corpus_doc
         |WHERE round(($sigAgreement) / $NumHashes.0, 6) >= 0.4
         |ORDER BY new_doc, corpus_doc""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS content_hash,
        |  count(*) AS n_docs, min(doc_id) AS keep_doc
        |FROM documents GROUP BY 1 ORDER BY keep_doc""".stripMargin,
    "dedup_minhash" ->
      s"""$pairCte
         |SELECT doc_a, doc_b FROM pairs ORDER BY doc_a, doc_b""".stripMargin,
    "dedup_jaccard" -> s"$jaccardOracle\nORDER BY doc_a, doc_b",
    "dedup_simhash" ->
      """WITH t AS (SELECT doc_id,
        |    list_transform(string_split(regexp_replace(trim(lower(text)), ' +', ' ', 'g'), ' '),
        |                   tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS th
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(list_sum(list_transform(generate_series(0, 59), i ->
        |    CASE WHEN list_sum(list_transform(th, h -> ((h >> i) & 1) * 2 - 1)) > 0
        |         THEN (1::BIGINT << i) ELSE 0 END)) AS BIGINT) AS simhash
        |FROM t ORDER BY doc_id""".stripMargin,
    "dedup_clusters" -> {
      val jac = jaccardOracle
      s"""WITH RECURSIVE jac AS ($jac),
         |confirmed AS (SELECT doc_a, doc_b FROM jac WHERE jaccard >= 0.3),
         |edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM confirmed
         |  UNION
         |  SELECT doc_b, doc_a FROM confirmed),
         |nodes AS (SELECT DISTINCT a AS doc FROM edges),
         |reach(doc, lab) AS (
         |  SELECT doc, doc FROM nodes
         |  UNION
         |  SELECT e.b, r.lab FROM reach r JOIN edges e ON e.a = r.doc)
         |SELECT doc AS doc_id, min(lab) AS cluster_id
         |FROM reach GROUP BY doc ORDER BY doc_id""".stripMargin
    },
    "dedup_embedding" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |${graft.functions.SrpBandKeys.duckdbKeysSql(64)},
         |pairs AS (
         |  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |  FROM keys a JOIN keys b
         |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
         |  WHERE (a.band, a.bkey) IN (SELECT (band, bkey) FROM keys
         |                             GROUP BY band, bkey HAVING count(*) <= $maxBucket))
         |SELECT vec_a, vec_b,
         |  round(list_cosine_similarity(ea.v, eb.v), 4) AS cos_sim
         |FROM pairs
         |JOIN e ea ON ea.vec_id = vec_a
         |JOIN e eb ON eb.vec_id = vec_b
         |WHERE round(list_cosine_similarity(ea.v, eb.v), 4) >= $cosThreshold
         |ORDER BY vec_a, vec_b""".stripMargin)
}
