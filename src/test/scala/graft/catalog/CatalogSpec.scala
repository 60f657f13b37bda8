package graft.catalog

import graft.SparkSpec

class CatalogSpec extends SparkSpec {

  private lazy val cat = new GraftCatalog(spark, sf)

  test("like pattern translation") {
    import GraftCatalog._
    assert(matches("lineitem", Seq("line%"), Nil))
    assert(matches("lineitem", Seq("%item"), Nil))
    assert(matches("lineitem", Seq("line_tem"), Nil))
    assert(!matches("lineitem", Seq("order%"), Nil))
    // multi-like is OR
    assert(matches("orders", Seq("line%", "ord%"), Nil))
    // multi-not-like is AND (all must miss)
    assert(!matches("orders", Nil, Seq("x%", "ord%")))
    assert(matches("orders", Nil, Seq("x%", "y%")))
    // regex metacharacters in names are literal
    assert(matches("a.b", Seq("a.b"), Nil))
    assert(!matches("axb", Seq("a.b"), Nil))
  }

  test("system.parts per-file stats agree with system.tables totals") {
    val (tables, _, partsDf) = cat.systemViews
    val parts = partsDf.collect()
    assert(parts.nonEmpty)
    assert(parts.forall(r => r.getAs[Long]("rows") >= 0 &&
      r.getAs[Long]("marks") > 0 && r.getAs[Long]("bytes_on_disk") > 0 &&
      r.getAs[Boolean]("active")))
    val partRows = parts.groupBy(_.getAs[String]("table"))
      .view.mapValues(_.map(_.getAs[Long]("rows")).sum).toMap
    tables.collect().foreach { t =>
      assert(partRows(t.getAs[String]("table_name")) ==
        t.getAs[Long]("total_rows"),
        s"parts row sum mismatch for ${t.getAs[String]("table_name")}")
    }
  }

  test("list_databases returns the default database") {
    assert(cat.listDatabases().contains("default"))
    assert(cat.listDatabases(like = Seq("nope%")).isEmpty)
  }

  test("list_tables filters, stats and column metadata") {
    val page = cat.listTables(like = Seq("line%", "ord%"))
    assert(page.tables.map(_.name).sorted == Seq("lineitem", "orders"))
    val li = page.tables.find(_.name == "lineitem").get
    assert(li.totalRows > 0 && li.totalBytes > 0 && li.parts > 0)
    assert(li.columns.exists(c => c.name == "l_orderkey"))
    assert(li.engine == "Parquet")
  }

  test("reference-parity metadata: DDL, uncompressed bytes, marks") {
    val li = cat.describeTable("default", "lineitem")
    assert(li.createTableQuery.startsWith("CREATE TABLE default.lineitem ("))
    assert(li.createTableQuery.contains("l_orderkey BIGINT"))
    assert(li.createTableQuery.contains("USING parquet LOCATION"))
    assert(li.engineFull.startsWith("Parquet LOCATION"))
    // snappy parquet: uncompressed strictly larger than on-disk bytes
    assert(li.totalBytesUncompressed > li.totalBytes)
    assert(li.totalMarks >= 1 && li.activeParts == li.parts)
    assert(li.sortingKey.isEmpty && li.primaryKey.isEmpty)
  }

  test("unknown database is rejected, not silently ignored") {
    intercept[IllegalArgumentException](cat.listTables(database = "prod"))
    intercept[IllegalArgumentException](cat.describeTable("prod", "orders"))
  }

  test("extra parquet directories mount as additional databases") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_db").toString
    graft.Tables(spark, sf, "region")
      .write.mode("overwrite").parquet(s"$tmp/staged_region.parquet")
    val multi = new GraftCatalog(spark, sf, Map("staging" -> tmp))
    assert(multi.listDatabases() == Seq("default", "staging"))
    val page = multi.listTables(database = "staging")
    assert(page.tables.map(_.name) == Seq("staged_region"))
    val t = multi.describeTable("staging", "staged_region")
    assert(t.database == "staging" && t.totalRows == 5)
    assert(t.createTableQuery.startsWith("CREATE TABLE staging.staged_region ("))
    // default database listing is unchanged by the mount
    assert(multi.listTables().totalTables == graft.Tables.all.size)
  }

  test("a footer is read once per file fingerprint: a rewritten file lists its new count") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_db").toFile
    val f = new java.io.File(tmp, "t.parquet")
    def write(n: Int): Unit = {
      val out = new java.io.File(tmp, "out")
      spark.range(0, n).toDF("id").coalesce(1).write.mode("overwrite").parquet(out.getPath)
      val part = out.listFiles.find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, f.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      org.apache.commons.io.FileUtils.deleteDirectory(out)
    }
    try {
      write(5)
      val mounted = new GraftCatalog(spark, sf, Map("fresh" -> tmp.getPath))
      def rows = mounted.listTables(database = "fresh").tables.map(t => (t.name, t.totalRows))
      assert(rows == Seq("t" -> 5L))
      val conf = spark.sparkContext.hadoopConfiguration
      val st = new org.apache.hadoop.fs.Path(f.getPath)
        .getFileSystem(conf).getFileStatus(new org.apache.hadoop.fs.Path(f.getPath))
      assert(GraftCatalog.part(st, conf) eq GraftCatalog.part(st, conf))
      write(5000)
      assert(rows == Seq("t" -> 5000L))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(tmp)
  }

  test("column comments and defaults surface through describe") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType).withComment("primary id"),
      StructField("state", StringType,
        metadata = new MetadataBuilder()
          .putString("CURRENT_DEFAULT", "'active'").build())))
    val df = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val cols = cat.describe(df, "t")
    assert(cols.head.comment.contains("primary id"))
    assert(cols(1).defaultKind.contains("DEFAULT"))
    assert(cols(1).defaultExpression.contains("'active'"))
  }

  test("pagination walks all tables exactly once via stateless tokens") {
    val p1 = cat.listTables(pageSize = 4)
    assert(p1.tables.size == 4 && p1.nextPageToken.isDefined)
    assert(p1.totalTables == graft.Tables.all.size)
    val p2 = cat.listTables(pageSize = 4, pageToken = p1.nextPageToken)
    val p3 = cat.listTables(pageSize = 4, pageToken = p2.nextPageToken)
    val all = (p1.tables ++ p2.tables ++ p3.tables).map(_.name)
    assert(all.distinct.size == graft.Tables.all.size)
    assert(p3.nextPageToken.isEmpty)
  }

  test("tokens never go stale: resume across instances, garbage restarts") {
    // no server-side token cache (vs the reference's 1 h TTL,
    // mcp_server.py:165-169): a token issued by one catalog instance
    // resumes correctly on a FRESH instance — exactly what a
    // driver/executor restart looks like at scale
    val p1 = cat.listTables(pageSize = 4)
    val fresh = new graft.catalog.GraftCatalog(spark, sf)
    val p2 = fresh.listTables(pageSize = 4, pageToken = p1.nextPageToken)
    assert(p2.tables.map(_.name) ==
      cat.listTables(pageSize = 4, pageToken = p1.nextPageToken)
        .tables.map(_.name))
    assert((p1.tables.map(_.name).toSet & p2.tables.map(_.name).toSet).isEmpty)
    // a corrupted token is ignored and the listing restarts at page 1,
    // never an expiry error
    val garbage = cat.listTables(pageSize = 4, pageToken = Some("!!not-b64!!"))
    assert(garbage.tables.map(_.name) == p1.tables.map(_.name))
  }

  test("stateless tokens under concurrent table churn: shifted pages, " +
    "never a crash or replay error") {
    // the documented departure from the reference's TTL'd server-side
    // token cache (mcp_server.py:266-297): a stateless token resumes
    // after the last name it listed, so churn after that cursor shows
    // up in the next page; the listing never crashes and always
    // terminates
    val tmp = java.nio.file.Files.createTempDirectory("graft_churn").toString
    def put(n: String): Unit = graft.Tables(spark, sf, "region")
      .write.mode("overwrite").parquet(s"$tmp/$n.parquet")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    Seq("a", "b", "c", "d", "e", "f").foreach(put)
    val cat2 = new GraftCatalog(spark, sf, Map("churn" -> tmp))
    val p1 = cat2.listTables(database = "churn", pageSize = 2)
    assert(p1.tables.map(_.name) == Seq("a", "b"))
    // DROP between pages: 'c' is gone, so page 2 is (d, e), not an
    // error and not (a, b) again
    rm(new java.io.File(s"$tmp/c.parquet"))
    val p2 = cat2.listTables(database = "churn", pageSize = 2,
      pageToken = p1.nextPageToken)
    assert(p2.tables.map(_.name) == Seq("d", "e"))
    // ADD between pages: the same old token now lists the new row,
    // which sorts after its cursor 'b' — still no a/b replay
    put("bb")
    val p3 = cat2.listTables(database = "churn", pageSize = 2,
      pageToken = p1.nextPageToken)
    assert(p3.tables.map(_.name) == Seq("bb", "d"))
    // pagination still terminates, and describe works after churn
    val p4 = cat2.listTables(database = "churn", pageSize = 2,
      pageToken = p3.nextPageToken)
    assert(p4.tables.map(_.name) == Seq("e", "f") && p4.nextPageToken.isEmpty)
    assert(cat2.describeTable("churn", "d").totalRows == 5)
  }

  test("stateless tokens: churn before the cursor neither hides nor repeats a table") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cursor").toString
    def put(n: String): Unit = graft.Tables(spark, sf, "region")
      .write.mode("overwrite").parquet(s"$tmp/$n.parquet")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    Seq("a", "b", "c", "d", "e", "f").foreach(put)
    val cat2 = new GraftCatalog(spark, sf, Map("cursor" -> tmp))
    def page(token: Option[String]) =
      cat2.listTables(database = "cursor", pageSize = 2, pageToken = token)
    val p1 = page(None)
    assert(p1.tables.map(_.name) == Seq("a", "b"))
    // DROP before the cursor: an offset token would skip 'c'
    rm(new java.io.File(s"$tmp/a.parquet"))
    assert(page(p1.nextPageToken).tables.map(_.name) == Seq("c", "d"))
    // ADD before the cursor: an offset token would list 'b' again
    put("a")
    put("aa")
    val p2 = page(p1.nextPageToken)
    assert(p2.tables.map(_.name) == Seq("c", "d"))
    // the rest of the walk lists every remaining table exactly once
    val p3 = page(p2.nextPageToken)
    assert(p3.tables.map(_.name) == Seq("e", "f") && p3.nextPageToken.isEmpty)
    rm(new java.io.File(tmp))
  }

  test("TTL token mode: snapshot pages under churn, expiry + mismatch reset") {
    // reference-parity cached tokens (mcp_server.py:266-297): opt-in
    // via the ttl knob, driven by a fake clock for determinism
    val tmp = java.nio.file.Files.createTempDirectory("graft_ttl").toString
    def put(n: String): Unit = graft.Tables(spark, sf, "region")
      .write.mode("overwrite").parquet(s"$tmp/$n.parquet")
    Seq("a", "b", "c", "d", "e", "f").foreach(put)
    var clock = 1000L
    val catT = new GraftCatalog(spark, sf, Map("ttldb" -> tmp),
      tokenTtlSec = Some(3600L), nowMs = () => clock)
    val p1 = catT.listTables(database = "ttldb", pageSize = 2)
    assert(p1.tables.map(_.name) == Seq("a", "b"))
    // churn between pages: the cached snapshot does NOT shift (the
    // stateless mode's documented shifted-page behavior goes away)
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(s"$tmp/c.parquet"))
    val p2 = catT.listTables(database = "ttldb", pageSize = 2,
      pageToken = p1.nextPageToken)
    // the snapshot slice is (c, d); the dropped c yields no info row
    // (reference: the info query over cached names returns nothing for
    // it), so the page shrinks — it does NOT shift to (d, e) the way
    // the stateless offset mode does
    assert(p2.tables.map(_.name) == Seq("d"))
    assert(p2.totalTables == 6) // snapshot total, not the post-churn 5
    // a token replayed with DIFFERENT filters resets to page one
    val mism = catT.listTables(database = "ttldb", pageSize = 2,
      like = Seq("d%"), pageToken = p1.nextPageToken)
    assert(mism.tables.map(_.name) == Seq("d"))
    // expiry: advance the clock past the TTL — the token resets to
    // the (fresh) first page instead of resuming
    clock += 3601 * 1000L
    val expired = catT.listTables(database = "ttldb", pageSize = 2,
      pageToken = p1.nextPageToken)
    assert(expired.tables.map(_.name) == Seq("a", "b"))
    // LRU size cap (reference TTLCache maxsize=100): chatty paging
    // never grows the cache past the cap, oldest tokens evict first
    (1 to GraftCatalog.tokenCacheMax + 50).foreach { _ =>
      catT.listTables(database = "ttldb", pageSize = 2)
    }
    assert(tokenCacheSize() <= GraftCatalog.tokenCacheMax)
  }

  private def tokenCacheSize(): Int =
    GraftCatalog.tokenCache.synchronized { GraftCatalog.tokenCache.size }

  test("token for different filters restarts from the beginning") {
    val p1 = cat.listTables(pageSize = 2)
    val restarted = cat.listTables(pageSize = 2, like = Seq("o%"),
      pageToken = p1.nextPageToken)
    assert(restarted.tables.map(_.name) == Seq("orders"))
  }

  test("token with different metadata setting restarts from the beginning") {
    val p1 = cat.listTables(pageSize = 2, includeDetailedColumns = true)
    val restarted = cat.listTables(pageSize = 2, includeDetailedColumns = false,
      pageToken = p1.nextPageToken)
    // mismatched setting: token ignored, listing restarts at offset 0
    assert(restarted.tables.map(_.name) == p1.tables.map(_.name))
    assert(restarted.tables.head.columns.isEmpty)
  }

  test("include_detailed_columns=false strips column payload") {
    val page = cat.listTables(like = Seq("nation"), includeDetailedColumns = false)
    assert(page.tables.head.columns.isEmpty)
  }

  test("bucketed catalog tables report sorting and primary keys") {
    graft.Tables(spark, sf, "nation").write.mode("overwrite")
      .bucketBy(4, "n_regionkey").sortBy("n_nationkey")
      .saveAsTable("nation_bucketed")
    try {
      val t = cat.describeCatalogTable("nation_bucketed")
      assert(t.primaryKey == "n_regionkey") // the clustering (bucket) key
      assert(t.sortingKey == "n_nationkey")
      assert(t.createTableQuery.contains("CLUSTERED BY (n_regionkey)"))
      assert(t.createTableQuery.contains("SORTED BY (n_nationkey)"))
      assert(t.createTableQuery.contains("INTO 4 BUCKETS"))
      assert(t.totalRows == 25 && t.totalBytesUncompressed > 0)
      assert(t.columns.map(_.name).contains("n_nationkey"))
    } finally spark.sql("DROP TABLE IF EXISTS nation_bucketed")
  }

  test("describe reports schema of an arbitrary source") {
    val cols = cat.describe(graft.Tables(spark, sf, "region"))
    assert(cols.map(_.name) == Seq("r_regionkey", "r_name"))
    assert(cols.head.columnType == "INT")
  }

  test("system views expose the catalog through the SQL path") {
    graft.sql.TableEnv.register(spark, sf)
    val t = spark.sql(
      """SELECT table_name, total_rows, parts, marks FROM system_tables
        |ORDER BY table_name""".stripMargin).collect()
    assert(t.map(_.getString(0)).contains("orders"))
    assert(t.forall(r => r.getLong(1) > 0 && r.getInt(2) > 0 && r.getLong(3) > 0))
    val c = spark.sql(
      "SELECT count(*) FROM system_columns WHERE table_name = 'region'")
      .head.getLong(0)
    assert(c == 2)
    // system_functions: every dialect name is listed as origin 'graft',
    // session builtins appear under 'spark', with no overlap
    val f = spark.sql(
      """SELECT origin, count(*) FROM system_functions
        |GROUP BY origin ORDER BY origin""".stripMargin).collect()
    assert(f.map(_.getString(0)).toSeq == Seq("graft", "spark"))
    val dialect = spark.sql(
      "SELECT name FROM system_functions WHERE origin = 'graft'")
      .collect().map(_.getString(0)).toSet
    assert(dialect == graft.functions.CHFunctions.all.map(_._1).toSet)
    assert(spark.sql(
      """SELECT count(*) FROM system_functions
        |GROUP BY name HAVING count(*) > 1""".stripMargin).isEmpty)
  }
}
