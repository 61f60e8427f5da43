package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.Datum

/** Façade semantics (SURVEY.md §2.1): read/write/DDL against sf0.001. */
class ApiSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  implicit lazy val sp: org.apache.spark.sql.SparkSession = spark
  lazy val db = Datum.connect(s"parquet://${TestSpark.Sf}")

  test("parseUrl splits scheme and path; bare path defaults to parquet") {
    assert(Datum.parseUrl("parquet:///x/y") == ("parquet", "/x/y"))
    assert(Datum.parseUrl("/x/y") == ("parquet", "/x/y"))
    assertThrows[IllegalArgumentException](Datum.connect("oracle-stgeom://h/db"))
  }

  test("tables lists base tables sorted (ref datum/postgis/database.py:60-69)") {
    val ts = db.tables
    assert(ts == ts.sorted)
    assert(ts.contains("lineitem") && ts.contains("nation"))
  }

  test("read: projection + alias + where + sort + limit compose") {
    val out = db.table("customer").read(
      fields = Seq("c_custkey", "c_name", "c_acctbal"),
      aliases = Map("c_name" -> "nm"),
      where = Some("c_acctbal > 5000"),
      sort = Seq("c_acctbal DESC", "c_custkey"),
      limit = Some(10))
    val rows = out.collect()
    assert(out.columns.toSeq == Seq("c_custkey", "nm", "c_acctbal"))
    assert(rows.length == 10)
    val bals = rows.map(_.getAs[Double]("c_acctbal"))
    assert(bals.sameElements(bals.sortBy(-(_: Double))), "sorted desc")
    assert(bals.forall(_ > 5000))
  }

  test("read: where/sort may reference unselected columns and aliases (SQL semantics)") {
    // predicate on a column NOT in the projection
    val a = db.table("customer").read(
      fields = Seq("c_custkey"), where = Some("c_acctbal > 5000"))
    assert(a.columns.toSeq == Seq("c_custkey") && a.count() > 0)
    // sort by an alias
    val b = db.table("customer").read(
      fields = Seq("c_custkey", "c_name"), aliases = Map("c_name" -> "nm"),
      sort = Seq("nm DESC"), limit = Some(3)).collect()
    assert(b.map(_.getString(1)).sameElements(b.map(_.getString(1)).sorted.reverse))
    // sort by an unselected base column
    val c = db.table("customer").read(
      fields = Seq("c_custkey"), sort = Seq("c_acctbal DESC"), limit = Some(1))
    assert(c.columns.toSeq == Seq("c_custkey"))
  }

  test("read() no-args is SELECT * (ref datum/postgis/table.py:156)") {
    assert(db.table("nation").read().columns.toSeq ==
      Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(db.table("nation").read().count() == 25)
  }

  test("count returns Long uniformly (ref property/method quirk fixed)") {
    assert(db.table("region").count == 5L)
  }

  test("metadata maps to coarse types (ref FIELD_TYPE_MAP)") {
    val m = db.table("orders").metadata.toMap
    assert(m("o_orderkey") == "num" && m("o_orderstatus") == "text" &&
      m("o_orderdate") == "date")
  }

  test("write rejects unknown fields (ref datum/postgis/table.py:259-262)") {
    val scratch = scratchDb()
    db.table("nation").df.write.mode("overwrite").parquet(scratch.pathOf("w1"))
    val bad = db.table("nation").df.withColumnRenamed("n_name", "nope")
    val e = intercept[IllegalArgumentException](scratch.table("w1").write(bad))
    assert(e.getMessage.contains("does not exist"))
  }

  test("write fills missing fields with null; chunk append counts add up") {
    val scratch = scratchDb()
    db.table("nation").df.write.mode("overwrite").parquet(scratch.pathOf("w2"))
    val t = scratch.table("w2")
    t.write(db.table("nation").df.select("n_nationkey", "n_name"), chunkSize = 7)
    assert(t.count == 50)
    assert(t.df.filter(col("n_regionkey").isNull).count() == 25)
  }

  test("delete truncates; table becomes empty with same schema") {
    val scratch = scratchDb()
    db.table("region").df.write.mode("overwrite").parquet(scratch.pathOf("w3"))
    val t = scratch.table("w3")
    t.delete()
    assert(t.count == 0 && t.fields == Seq("r_regionkey", "r_name"))
  }

  test("geometry column detected by name; srid/geom_type from sidecar") {
    val scratch = scratchDb()
    db.table("nation").df
      .withColumn("wkt", concat(lit("POINT ("), col("n_nationkey"), lit(" 1)")))
      .write.mode("overwrite").parquet(scratch.pathOf("g1"))
    java.nio.file.Files.writeString(
      new java.io.File(scratch.root, "g1.parquet.properties").toPath,
      "srid=2272\ngeom_type=POINT\n")
    val t = scratch.table("g1")
    assert(t.geomField.contains("wkt") && t.srid == 2272 && t.geomType.contains("POINT"))
    assert(t.nonGeomFields == Seq("n_nationkey", "n_name", "n_regionkey"))
    // returnGeom=false drops the geometry (ref return_geom flag)
    assert(!t.read(returnGeom = false).columns.contains("wkt"))
  }

  test("createIndex clusters without losing rows") {
    val scratch = scratchDb()
    db.table("customer").df.write.mode("overwrite").parquet(scratch.pathOf("i1"))
    val t = scratch.table("i1")
    val before = t.count
    t.createIndex(Seq("c_acctbal"))
    assert(t.count == before)
  }

  test("createZOrderIndex: row-group boxes compact in EVERY dim (vs linear sort)") {
    val scratch = scratchDb()
    // 64×64 uniform grid; 16 output files → ideal quadrant span = 0.25
    val grid = spark.range(4096).selectExpr("id",
      "CAST(id % 64 AS DOUBLE) AS x", "CAST(id DIV 64 AS DOUBLE) AS y")
    def avgSpans(name: String): (Double, Double) = {
      val spans = scratch.table(name).df
        .groupBy(input_file_name()).agg(
          (max(col("x")) - min(col("x"))).as("xs"),
          (max(col("y")) - min(col("y"))).as("ys"))
        .collect()
      (spans.map(_.getDouble(1)).sum / spans.length / 63.0,
        spans.map(_.getDouble(2)).sum / spans.length / 63.0)
    }
    grid.repartition(16).write.mode("overwrite").parquet(scratch.pathOf("z1"))
    scratch.table("z1").createZOrderIndex(Seq("x", "y"))
    assert(scratch.table("z1").count == 4096)
    val (zx, zy) = avgSpans("z1")
    // Z-order: BOTH dims compact → predicates on either column prune files
    assert(zx < 0.45 && zy < 0.45, s"z-order spans x=$zx y=$zy")
    // contrast: lexicographic range-cluster serves only the leading column —
    // every file spans (nearly) the whole y domain
    grid.repartition(16).write.mode("overwrite").parquet(scratch.pathOf("z2"))
    scratch.table("z2").createIndex(Seq("x", "y"))
    val (_, ly) = avgSpans("z2")
    assert(ly > 0.8, s"linear y span $ly should be ~full domain")
  }

  test("write auto-fills a missing pk column (ref NEXT_ROWID / id serial)") {
    val scratch = scratchDb()
    scratch.dropTable("w4")
    scratch.createTable("w4", Seq("label" -> "text"))
    val t = scratch.table("w4")
    t.write(spark.createDataFrame(Seq(Tuple1("a"), Tuple1("b"))).toDF("label"))
    assert(t.count == 2)
    val ids = t.df.select("id").collect().map(_.getLong(0))
    assert(ids.distinct.length == 2, "auto ids must be unique")
    // a SECOND append must not reuse ids (ref serial semantics)
    t.write(spark.createDataFrame(Seq(Tuple1("c"))).toDF("label"))
    val all = t.df.select("id").collect().map(_.getLong(0))
    assert(all.distinct.length == 3, s"ids must stay unique across appends: ${all.mkString(",")}")
  }

  test("write geometry prep: reprojection, MULTI cast, null -> EMPTY (ref _prepare_geom)") {
    val scratch = scratchDb()
    // target table: MULTIPOLYGON column in EPSG:2272
    spark.createDataFrame(Seq((1L, "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)))")))
      .toDF("gid", "wkt").write.mode("overwrite").parquet(scratch.pathOf("gw"))
    java.nio.file.Files.writeString(
      new java.io.File(scratch.root, "gw.parquet.properties").toPath,
      "srid=2272\ngeom_type=MULTIPOLYGON\n")
    val t = scratch.table("gw")
    // incoming rows: WGS84 polygon (needs reprojection + MULTI wrap) and a
    // null geometry (needs the EMPTY literal, ref oracle_stgeom:320-322)
    val rows = spark.createDataFrame(Seq(
      (2L, "POLYGON ((-75.16 39.95, -75.15 39.95, -75.15 39.96, -75.16 39.95))"),
      (3L, null.asInstanceOf[String]))).toDF("gid", "wkt")
    t.write(rows, fromSrid = Some(4326))
    val got = t.df.orderBy("gid").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(2L).startsWith("MULTIPOLYGON ((("), s"reprojected+wrapped: ${got(2L)}")
    // reprojected coords must land in the Philadelphia 2272 extent (ftUS)
    val nums = "-?\\d+\\.?\\d*".r.findAllIn(got(2L)).map(_.toDouble).toSeq
    assert(nums.grouped(2).forall { case Seq(x, y) => x > 2.6e6 && x < 2.8e6 && y > 2e5 && y < 3.2e5 },
      s"coords out of extent: ${got(2L)}")
    assert(got(3L) == "MULTIPOLYGON EMPTY")
  }

  test("asofJoin: <= boundary, latest-prior match, inner drop semantics") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(min * 60000)
    val l = spark.createDataFrame(Seq(
      (101L, 1L, ts(10)), (102L, 1L, ts(20)), (103L, 2L, ts(5)))).toDF("lid", "user_id", "ts")
    val r = spark.createDataFrame(Seq(
      (201L, 1L, ts(10)), (202L, 1L, ts(15)), (203L, 2L, ts(6)))).toDF("rid", "user_id", "ts")
    val out = graft.rel.AsOf.asofJoin(l, r, "user_id", "ts", "ts")
      .select("lid", "asof_rid").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(out(101L) == 201L, "equal timestamps match (<= semantics)")
    assert(out(102L) == 202L, "latest prior wins")
    assert(!out.contains(103L), "no prior right row -> dropped (inner)")
  }

  test("profile reports rows, nulls, distincts, and numeric min/max") {
    import spark.implicits._
    val db2 = scratchDb()
    db2.store(Seq((1L, Some("a"), 2.5), (2L, None, -1.0), (3L, Some("a"), 4.0))
      .toDF("id", "tag", "x"), "prof", "overwrite")
    val m = db2.table("prof").profile().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(m(("*", "rows")) == 3.0)
    assert(m(("tag", "nulls")) == 1.0 && m(("tag", "distinct")) == 1.0)
    assert(m(("x", "min")) == -1.0 && m(("x", "max")) == 4.0)
    assert(m(("id", "distinct")) == 3.0)
    assert(!m.contains(("tag", "min")), "no min/max for non-numeric columns")
  }

  test("asofJoin forward direction and tolerance semantics") {
    import java.sql.Timestamp
    def ts(min: Long) = new Timestamp(min * 60000)
    val l = spark.createDataFrame(Seq(
      (101L, 1L, ts(10)), (102L, 1L, ts(20)), (103L, 2L, ts(5)))).toDF("lid", "user_id", "ts")
    val r = spark.createDataFrame(Seq(
      (201L, 1L, ts(10)), (202L, 1L, ts(90)), (203L, 2L, ts(4)))).toDF("rid", "user_id", "ts")
    val fwd = graft.rel.AsOf.asofJoin(l, r, "user_id", "ts", "ts",
      direction = "forward")
      .select("lid", "asof_rid").collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fwd(101L) == 201L, "equal timestamps match (>= semantics)")
    assert(fwd(102L) == 202L, "earliest following wins")
    assert(!fwd.contains(103L), "no following right row -> dropped")
    // 30-minute tolerance: 102's match at +70min drops out, 101 (0 gap) stays
    val tol = graft.rel.AsOf.asofJoin(l, r, "user_id", "ts", "ts",
      direction = "forward", toleranceUs = Some(30L * 60 * 1000000L))
      .select("lid").collect().map(_.getLong(0)).toSet
    assert(tol == Set(101L))
  }

  test("salted join is result-identical to the plain join") {
    val o = db.table("orders").df.select("o_custkey", "o_totalprice")
    val c = db.table("customer").df.select("c_custkey", "c_mktsegment")
      .withColumnRenamed("c_custkey", "o_custkey")
    val plain = o.join(c, "o_custkey").count()
    val salted = graft.rel.Skew.saltedJoin(o, c, "o_custkey", 8).count()
    assert(plain == salted)
  }

  test("saltedSum equals the direct groupBy sum exactly") {
    val o = db.table("orders").df
    val direct = o.groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val salted = graft.rel.Skew.saltedSum(o.select("o_custkey", "o_totalprice"),
      Seq("o_custkey"), col("o_totalprice"), "rev", buckets = 8)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(direct == salted)
  }

  test("sketch aggregates land within tolerance of exact values") {
    val r = graft.rel.QueriesB.all("b12_approx_stats")(spark, TestSpark.Sf).collect()(0)
    for (c <- Seq("hll_ok", "p50_in_eps", "p90_in_eps", "p99_in_eps",
        "sketch_err_ok", "sketch_n_ok"))
      assert(r.getAs[Boolean](c), s"$c must hold: $r")
  }

  test("orc, csv and json schemes: full facade over non-parquet sources") {
    for (fmt <- Seq("orc", "csv", "json")) {
      val root = new java.io.File(scratchRoot, s"fmt_$fmt").getPath
      new java.io.File(root).mkdirs()
      val fdb = Datum.connect(s"$fmt://$root")
      fdb.store(db.table("nation").df, "nation", "overwrite")
      assert(fdb.tables == Seq("nation"))
      val t = fdb.table("nation")
      assert(t.count == 25)
      val rows = t.read(fields = Seq("n_nationkey", "n_name"),
        where = Some("n_nationkey < 5"), sort = Seq("n_nationkey")).collect()
      assert(rows.length == 5 && rows.head.get(1) == "NATION_0")
      t.write(db.table("nation").df.limit(3))
      assert(t.count == 28, s"$fmt append")
      val n = fdb.execute("SELECT count(*) AS n FROM nation").collect()(0).getLong(0)
      assert(n == 28)
    }
  }

  test("binned interval join equals the naive inequality join") {
    import java.sql.Timestamp
    def ts(sec: Long) = new Timestamp(sec * 1000)
    val l = spark.createDataFrame(Seq((1L, ts(100)), (2L, ts(301)), (3L, ts(650))))
      .toDF("lid", "l_ts")
    val r = spark.createDataFrame(Seq((10L, ts(40)), (11L, ts(99)), (12L, ts(300)), (13L, ts(600))))
      .toDF("rid", "r_ts")
    val naive = l.crossJoin(r)
      .filter(col("r_ts") <= col("l_ts") &&
        col("r_ts") > col("l_ts") - expr("INTERVAL 120 SECONDS"))
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val binned = graft.rel.RangeJoin.binnedIntervalJoin(l, r, "l_ts", "r_ts", 120)
      .select("lid", "rid").collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(binned == naive && naive.nonEmpty, s"binned=$binned naive=$naive")
  }

  test("bucketed tables co-locate the join: no shuffle exchange in the plan") {
    db.createBucketedTable("b_orders", db.table("orders").df, 8, Seq("o_custkey"))
    db.createBucketedTable("b_customer", db.table("customer").df, 8, Seq("c_custkey"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_customer"),
          col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("read pushes projection and predicate into the parquet scan") {
    val plan = db.table("orders").read(
      fields = Seq("o_orderkey", "o_totalprice"),
      where = Some("o_totalprice > 100000"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,100000.0)]"),
      s"predicate must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"),
      s"scan must read only projected columns:\n$plan")
  }

  test("two databases in one session: execute reads each db's own tables") {
    val root = new java.io.File(scratchRoot, "iso").getPath
    new java.io.File(root).mkdirs()
    val other = Datum.connect(s"parquet://$root")
    other.store(db.table("nation").df.limit(3), "nation", "overwrite")
    assert(other.execute("SELECT count(*) AS n FROM nation").collect()(0).getLong(0) == 3)
    // the original database must still see ITS nation, not the 3-row one
    assert(db.execute("SELECT count(*) AS n FROM nation").collect()(0).getLong(0) == 25)
  }

  test("execute runs full Spark SQL over registered tables") {
    val n = db.execute("SELECT count(*) AS n FROM lineitem").collect()(0).getLong(0)
    assert(n == 6000L)
  }

  test("bucketed join plans with no exchange under the join (c17 plan audit)") {
    val df = graft.rel.QueriesC.all("c17_bucketed_join")(spark, TestSpark.Sf)
    val plan = df.queryExecution.executedPlan.toString
    val joinAt = plan.indexOf("SortMergeJoin")
    assert(joinAt >= 0, s"bucketed join should be a sort-merge join:\n$plan")
    // everything BELOW the join must be exchange-free: the bucket layout
    // provides the partitioning, so only the final aggregate may shuffle
    assert(!plan.substring(joinAt).contains("Exchange"),
      s"bucketed join must not shuffle its inputs:\n$plan")
  }

  test("EXISTS/NOT EXISTS decorrelate to semi/anti hash joins (b22 plan audit)") {
    val plan = graft.rel.QueriesB.all("b22_exists_subquery")(spark, TestSpark.Sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi"), s"EXISTS must become a left-semi join:\n$plan")
    assert(plan.contains("LeftAnti"), s"NOT EXISTS must become a left-anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "decorrelation must not fall back to a nested loop")
  }

  test("schema-qualified tables: listed, readable, and SQL-visible (ref per-schema listing)") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df.limit(4), "sales.orders", "overwrite")
    assert(scratch.tables.contains("sales.orders"))
    assert(scratch.table("sales.orders").count == 4)
    // dotted names register under a sanitized view name for raw SQL
    val n = scratch.execute("SELECT count(*) AS n FROM sales_orders").collect()(0).getLong(0)
    assert(n == 4)
    scratch.dropTable("sales.orders")
    assert(!scratch.tables.contains("sales.orders"))
  }

  test("execute DML: DELETE returns rowcount; removes only TRUE-predicate rows") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df, "del1", "overwrite")
    val out = scratch.execute("DELETE FROM del1 WHERE n_regionkey = 0")
    assert(out.columns.toSeq == Seq("rowcount"))
    assert(out.collect()(0).getLong(0) == 5)
    assert(scratch.table("del1").count == 20)
    assert(scratch.table("del1").df.filter(col("n_regionkey") === 0).count() == 0)
    // DELETE without WHERE empties the table but keeps the schema
    val rc2 = scratch.execute("DELETE FROM del1").collect()(0).getLong(0)
    assert(rc2 == 20 && scratch.table("del1").count == 0)
    assert(scratch.table("del1").fields == Seq("n_nationkey", "n_name", "n_regionkey"))
  }

  test("execute DML: INSERT VALUES / INSERT SELECT return inserted counts (ref rowcount)") {
    val scratch = scratchDb()
    scratch.store(db.table("region").df, "ins1", "overwrite")
    val rc = scratch.execute("INSERT INTO ins1 VALUES (100, 'ZZZ'), (101, 'YYY')")
      .collect()(0).getLong(0)
    assert(rc == 2 && scratch.table("ins1").count == 7)
    val rc2 = scratch.execute(
      "INSERT INTO ins1 (r_regionkey, r_name) SELECT r_regionkey + 200, r_name FROM ins1")
      .collect()(0).getLong(0)
    assert(rc2 == 7 && scratch.table("ins1").count == 14)
    // no space after VALUES — common SQL style, must hit the same DML path
    val rc3 = scratch.execute("INSERT INTO ins1 VALUES(300, 'WWW')").collect()(0).getLong(0)
    assert(rc3 == 1 && scratch.table("ins1").count == 15)
    // SELECT through the same entry point still returns a plain result frame
    assert(scratch.execute("SELECT count(*) AS n FROM ins1").collect()(0).getLong(0) == 15)
  }

  test("execute sees writes made through a SECOND facade over the same root") {
    val root = new java.io.File(scratchRoot, "epoch").getPath
    new java.io.File(root).mkdirs()
    val a = Datum.connect(s"parquet://$root")
    val b = Datum.connect(s"parquet://$root")
    a.store(db.table("region").df, "r_epoch", "overwrite")
    assert(a.execute("SELECT count(*) AS n FROM r_epoch").collect()(0).getLong(0) == 5)
    // b's write must invalidate a's cached registration (same-root epoch),
    // or a would serve a stale file listing for the overwritten table
    b.store(db.table("region").df.limit(2), "r_epoch", "overwrite")
    assert(a.execute("SELECT count(*) AS n FROM r_epoch").collect()(0).getLong(0) == 2)
  }

  test("jdbc scheme: Derby round-trip through the full facade (ref live-DB adapter)") {
    val jdb = Datum.connect("jdbc:derby:memory:graftjdbc;create=true")
    jdb.store(db.table("region").df, "REGIONJ", "overwrite")
    assert(jdb.tables.contains("REGIONJ"))
    assert(jdb.table("REGIONJ").count == 5)
    // append through the Table.write facade (type alignment + validation)
    jdb.table("REGIONJ").write(
      spark.createDataFrame(Seq((100L, "ZZZ"))).toDF("r_regionkey", "r_name"))
    assert(jdb.table("REGIONJ").count == 6)
    // raw SQL over registered backend tables
    assert(jdb.execute("SELECT count(*) AS n FROM REGIONJ").collect()(0).getLong(0) == 6)
    // DML semantics work against the live backend too
    val rc = jdb.execute("DELETE FROM REGIONJ WHERE r_regionkey >= 100").collect()(0).getLong(0)
    assert(rc == 1 && jdb.table("REGIONJ").count == 5)
    jdb.dropTable("REGIONJ")
    assert(!jdb.tables.contains("REGIONJ"))
  }

  test("jdbc createTable: coarse types + auto id against the live backend") {
    val jdb = Datum.connect("jdbc:derby:memory:graftjdbc2;create=true")
    jdb.dropTable("COARSE1")
    jdb.createTable("COARSE1", Seq("label" -> "text", "score" -> "num"))
    assert(jdb.tables.contains("COARSE1"))
    val t = jdb.table("COARSE1")
    assert(t.fields.map(_.toLowerCase) == Seq("id", "label", "score"))
    // idempotent (IF NOT EXISTS semantics)
    jdb.createTable("COARSE1", Seq("other" -> "text"))
    assert(jdb.table("COARSE1").fields.map(_.toLowerCase) == Seq("id", "label", "score"))
    jdb.dropTable("COARSE1")
  }

  test("jdbc DELETE preserves backend DDL (staged transactional replace)") {
    val url = "jdbc:derby:memory:graftjdbc3;create=true"
    val jdb = Datum.connect(url)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE DDLT (id BIGINT PRIMARY KEY, name VARCHAR(32))")
      st.executeUpdate("INSERT INTO DDLT VALUES (1,'a'),(2,'b'),(3,'c')")
      st.close()
      val rc = jdb.execute("DELETE FROM DDLT WHERE id = 2").collect()(0).getLong(0)
      assert(rc == 1 && jdb.table("DDLT").count == 2)
      // the primary key survived the replace — Spark's mode("overwrite")
      // would have dropped and recreated the table without it
      val rs = conn.getMetaData.getPrimaryKeys(null, null, "DDLT")
      assert(rs.next() && rs.getString("COLUMN_NAME") == "ID")
      // the staging table was cleaned up
      assert(!jdb.tables.exists(_.contains("GRAFT_STAGE")))
    } finally conn.close()
  }

  test("ambiguous view names fail loudly instead of last-registered-wins") {
    val scratch = scratchDb()
    scratch.store(db.table("region").df, "sales.orders", "overwrite")
    scratch.store(db.table("region").df.limit(2), "sales_orders", "overwrite")
    // both names sanitize to temp view `sales_orders`: execute() could
    // silently serve either table — must refuse instead
    val e = intercept[IllegalStateException](
      scratch.execute("SELECT count(*) AS n FROM sales_orders"))
    assert(e.getMessage.contains("sales.orders") &&
      e.getMessage.contains("sales_orders"))
    // the rest of the database stays usable: statements that reference
    // neither colliding name must not be poisoned by the ambiguity
    scratch.store(db.table("region").df, "unrelated", "overwrite")
    assert(scratch.execute("SELECT count(*) AS n FROM unrelated")
      .collect()(0).getLong(0) == 5)
  }

  test("compact merges small files shuffle-free without changing content") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df.repartition(5), "cmp1", "overwrite",
      chunkSize = 2)
    val dir = new java.io.File(scratch.pathOf("cmp1"))
    def parts = dir.listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts >= 10, s"chunked write must leave many small files, got $parts")
    val n = scratch.table("cmp1").compact()
    assert(n == 1, s"25 tiny rows must fold to one file group, got $n")
    assert(parts == 1, s"compacted table must hold one data file, got $parts")
    val rows = scratch.table("cmp1").read(sort = Seq("n_nationkey")).collect()
    assert(rows.length == 25 && rows.map(_.getAs[Int]("n_nationkey")).toSeq == (0 to 24))
  }

  test("compact preserves hive-partitioned layouts (per-partition merge)") {
    val scratch = scratchDb()
    val path = scratch.pathOf("cmp2")
    db.table("nation").df.withColumn("r", col("n_regionkey"))
      .repartition(5).write.partitionBy("r").mode("overwrite").parquet(path)
    def partDirs = new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("r="))
    def leafFiles(d: java.io.File) =
      d.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet"))
    assert(partDirs.length == 5)
    assert(partDirs.map(leafFiles(_).length).sum > 5,
      "the 5-way repartition must fragment each partition dir")
    val n = scratch.table("cmp2").compact()
    assert(n == 5, s"one merged file per partition, got $n")
    assert(partDirs.length == 5, "partition layout must survive compaction")
    assert(partDirs.forall(leafFiles(_).length == 1))
    val rows = scratch.table("cmp2").df
    assert(rows.count() == 25 && rows.columns.contains("r"))
  }

  test("snapshot/readVersion: appends create versions, v1 stays frozen, no copy") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df, "tt1", "overwrite")
    val t = scratch.table("tt1")
    // overwrite rewrites data but not the .versions sidecar — clear any
    // history a previous run left so the numbering assertion is stable
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(t.path + ".versions"))
    val v1 = t.snapshot()
    t.write(db.table("nation").df.filter(col("n_nationkey") < 5))
    val v2 = t.snapshot()
    assert(t.versions == Seq(v1, v2))
    assert(t.readVersion(v1).count() == 25, "v1 must not see the append")
    assert(t.readVersion(v2).count() == 30)
    assert(t.count == 30, "the live table reads everything")
    // manifests reference files in place — no byte of data was copied
    val vdir = new java.io.File(t.path + ".versions")
    assert(vdir.listFiles().forall(_.length() < 10000), "manifests are tiny")
    assertThrows[IllegalArgumentException](t.readVersion(99))
  }

  test("diffVersions: exactly the appended rows, empty self-diff, rewrite breaks lineage loudly") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df, "tt2", "overwrite")
    val t = scratch.table("tt2")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(t.path + ".versions"))
    val v1 = t.snapshot()
    t.write(db.table("nation").df.filter(col("n_nationkey") < 5))
    val v2 = t.snapshot()
    val delta = t.diffVersions(v1, v2)
    assert(delta.count() == 5, "diff is exactly the appended rows")
    assert(delta.agg(org.apache.spark.sql.functions.max(col("n_nationkey"))
      .cast("long")).collect()(0).getLong(0) == 4L)
    assert(t.diffVersions(v1, v1).count() == 0, "self-diff is empty")
    assert(t.diffVersions(v2, v2).count() == 0)
    // a rewrite between snapshots breaks file lineage — diff must refuse
    t.compact()
    val v3 = t.snapshot()
    assertThrows[IllegalArgumentException](t.diffVersions(v1, v3))
  }

  test("vacuum removes only crash artifacts, leaves live data and valid snapshots") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df, "vac1", "overwrite")
    val t = scratch.table("vac1")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(t.path + ".versions"))
    scratch.vacuum() // reset residue from earlier suites sharing the root
    val v1 = t.snapshot() // stays VALID (no rewrite) — must survive vacuum
    val junk = new java.io.File(t.path + ".stage_tmp"); junk.mkdirs()
    val rep = scratch.vacuum()
    assert(rep("stage_tmp") == 1 && rep("stale_manifest") == 0, s"$rep")
    assert(!junk.exists(), "staging leftover removed")
    assert(t.count == 25, "live data untouched")
    assert(t.readVersion(v1).count() == 25, "valid manifest survives")
    assert(scratch.vacuum().values.sum == 0, "second vacuum is a no-op")
  }

  test("vacuum RECOVERS a backup that is the only copy (crash mid-swap)") {
    val scratch = scratchDb()
    scratch.store(db.table("region").df, "vac2", "overwrite")
    scratch.vacuum() // reset residue
    // simulate replaceAt dying between `orig -> bak` and `tmp -> orig`:
    // the table dir is gone; .stage_bak holds the only copy of the data
    val t2 = new java.io.File(scratch.pathOf("vac2"))
    assert(t2.renameTo(new java.io.File(t2.getPath + ".stage_bak")))
    val rep = scratch.vacuum()
    assert(rep("recovered") == 1 && rep("stage_bak") == 0,
      s"orphaned backup must be restored, never deleted: $rep")
    assert(scratch.table("vac2").count == 5, "restored table reads intact")
    assert(scratch.vacuum().values.sum == 0)
  }

  test("vacuum covers the .stats sidecar swap's crash residue (stage reclaimed, orphaned .bak restored)") {
    import spark.implicits._
    val scratch = scratchDb()
    (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(scratch.pathOf("vacstats"))
    val t = scratch.table("vacstats")
    scratch.vacuum() // reset residue from suites sharing the root
    t.analyzeStats(Seq("k")): Unit
    // crash A: writeStats died after staging, before the swap — the
    // orphan .stats.stage_tmp is un-promoted by construction; vacuum
    // reclaims it through the generic .stage_tmp class and the live
    // sidecar keeps serving
    val stage = new java.io.File(t.path + ".stats.stage_tmp")
    stage.mkdirs()
    val rep1 = scratch.vacuum()
    assert(rep1("stage_tmp") == 1 && !stage.exists(), s"$rep1")
    assert(t.readPruned("k", 50L, 150L).inputFiles.length < 6,
      "sidecar still serves after stage reclaim")
    // crash B: swapDir died between `.stats -> .stats.bak` and
    // `stage -> .stats` — the .bak holds the ONLY copy; vacuum's recover
    // pass must restore it, after which skipping serves again
    val live = new java.io.File(t.path + ".stats")
    assert(live.renameTo(new java.io.File(t.path + ".stats.bak")))
    val rep2 = scratch.vacuum()
    assert(rep2("recovered") == 1 && rep2("bak") == 0,
      s"orphaned sidecar backup must be restored, never deleted: $rep2")
    assert(t.readPruned("k", 50L, 150L).inputFiles.length < 6,
      "restored sidecar serves")
    // superseded .bak (primary present) is residue — reclaimed
    val bak2 = new java.io.File(t.path + ".stats.bak"); bak2.mkdirs()
    val rep3 = scratch.vacuum()
    assert(rep3("bak") == 1 && !bak2.exists(), s"$rep3")
    assert(scratch.vacuum().values.sum == 0, "convergent")
  }

  test("e89 rebalance swap crash matrix: stage/mid-swap/between-swaps all recover with zero lost vectors") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val scratch = scratchDb()
    scratch.vacuum() // reset residue
    // the e89 shape in miniature: an IVF list-partitioned state where the
    // hot list 0 is split — vecs 1..3 stay, vecs 4..6 move to new list 3;
    // lists 1 and 2 must come through every crash byte-identical
    def vecs(list: Long, ids: Seq[Long]) = ids.map(i => (i, Seq(i * 1.0), list))
    val initial = (vecs(0L, 1L to 6L) ++ vecs(1L, Seq(7L, 8L)) ++
      vecs(2L, Seq(9L, 10L))).toDF("vec_id", "emb", "list_id")
    val partial = (vecs(0L, 1L to 3L) ++ vecs(3L, 4L to 6L))
      .toDF("vec_id", "emb", "list_id")
    def mkState(tag: String): java.io.File = {
      val state = new java.io.File(scratch.root, s"e89crash_$tag")
      // overwrite: the numbered scratch root persists across suite runs
      initial.write.mode("overwrite").partitionBy("list_id").parquet(state.getPath)
      state
    }
    def stageOf(state: java.io.File) = new java.io.File(state.getPath + ".stage_tmp")
    def merge(state: java.io.File): Unit =
      api.Database.mergeTouchedPartitions(partial, "list_id", state.getPath,
        stageOf(state).getPath)((_, p) => p)
    def snap(state: java.io.File): Map[Long, Long] =
      spark.read.parquet(state.getPath).collect()
        .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("list_id")).toMap
    def dirSig(state: java.io.File, list: Int): Seq[(String, Long)] =
      Option(new java.io.File(state, s"list_id=$list").listFiles())
        .getOrElse(Array.empty).map(f => (f.getName, f.length)).toSeq.sorted
    // reference: the crash-free rebalance
    val ref = mkState("ref"); merge(ref)
    val want = snap(ref)
    assert(want == ((1L to 3L).map(_ -> 0L) ++ (4L to 6L).map(_ -> 3L) ++
      Seq(7L -> 1L, 8L -> 1L, 9L -> 2L, 10L -> 2L)).toMap)

    // crash A — stage fully written, death BEFORE any swap: state intact,
    // an orphan .stage_tmp on disk. vacuum reclaims it; the re-run
    // converges from the untouched state.
    val a = mkState("a")
    val untouchedA = (dirSig(a, 1), dirSig(a, 2))
    partial.write.partitionBy("list_id").parquet(stageOf(a).getPath)
    val repA = scratch.vacuum()
    assert(repA("stage_tmp") >= 1 && !stageOf(a).exists(),
      s"vacuum reclaims the orphaned stage: $repA")
    merge(a)
    assert(snap(a) == want, "crash-at-stage + vacuum + re-run converges")
    assert((dirSig(a, 1), dirSig(a, 2)) == untouchedA,
      "untouched lists stay byte-identical through crash A")

    // crash B — death INSIDE swapDir: list_id=0 already renamed to .bak,
    // the staged replacement not yet in place. The primary is MISSING;
    // vacuum's recover pass must restore the backup (rollback), reclaim
    // the stage, and the re-run converges with no vector lost.
    val b = mkState("b")
    partial.write.partitionBy("list_id").parquet(stageOf(b).getPath)
    val hot = new java.io.File(b, "list_id=0")
    assert(hot.renameTo(new java.io.File(hot.getPath + ".bak")))
    val repB = scratch.vacuum()
    assert(repB("recovered") >= 1,
      s"vacuum must restore the mid-swap backup, never delete it: $repB")
    assert(snap(b) == ((1L to 6L).map(_ -> 0L) ++ Seq(7L -> 1L, 8L -> 1L,
      9L -> 2L, 10L -> 2L)).toMap, "rollback restores the pre-rebalance state")
    merge(b)
    assert(snap(b) == want, "crash-mid-swap + vacuum + re-run converges")

    // crash C — death BETWEEN the two touched-dir swaps (list 0 swapped,
    // list 3 not): the replace-merge is idempotent, so a bare re-run (the
    // restarted maintenance job) converges; vacuum then has nothing left
    // to reclaim beyond the crashed run's stage.
    val c = mkState("c")
    var swaps = 0
    val boom = intercept[RuntimeException] {
      api.Database.mergeTouchedPartitions(partial, "list_id", c.getPath,
        stageOf(c).getPath,
        onSwapped = { _ =>
          swaps += 1
          if (swaps == 1) throw new RuntimeException("simulated crash")
        })((_, p) => p)
    }
    assert(boom.getMessage == "simulated crash")
    scratch.vacuum(): Unit // reclaim the crashed run's leftover stage
    merge(c)
    assert(snap(c) == want, "crash-between-swaps + re-run converges")
    assert(scratch.vacuum().values.sum == 0, "no residue after the matrix")
  }

  test("buildBm25Index: caller-supplied root, staged swap, vacuum reclaims a crashed build") {
    val scratch = scratchDb()
    scratch.vacuum() // reset residue
    val idx = new java.io.File(scratch.root, "bm25_index")
    val probe = graft.llm.QueriesE.buildBm25Index(spark, TestSpark.Sf, idx.getPath)
      .collect()
    graft.Caches.drain()
    assert(probe.nonEmpty, "pruned probe over the persisted index returns rows")
    assert(idx.isDirectory && !new java.io.File(idx.getPath + ".stage_tmp").exists(),
      "staged build swapped fully into place")
    // a rebuild that crashes mid-write leaves only a .stage_tmp orphan —
    // inside a warehouse root, the standard vacuum sweep reclaims it
    val crashed = new java.io.File(idx.getPath + ".stage_tmp")
    new java.io.File(crashed, "bucket=0").mkdirs()
    val rep = scratch.vacuum()
    assert(rep("stage_tmp") == 1, s"crashed index build reclaimed: $rep")
    assert(!crashed.exists() && idx.isDirectory, "live index survives the sweep")
  }

  test("restore rolls back an append and re-pins a fresh v1 history") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df, "tt4", "overwrite")
    val t = scratch.table("tt4")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(t.path + ".versions"))
    val v1 = t.snapshot()
    t.write(db.table("nation").df.filter(col("n_nationkey") < 5))
    t.snapshot()
    assert(t.count == 30)
    val fresh = t.restore(v1)
    assert(t.count == 25, "restore rolls the append back")
    assert(t.df.agg(sum(col("n_nationkey"))).collect()(0).getLong(0) == 300L,
      "restored contents equal the seed exactly")
    assert(fresh == 1 && t.versions == Seq(1),
      "old history is invalidated; restored state re-pins as v1")
    assert(t.readVersion(1).count() == 25, "the fresh manifest is readable")
    assertThrows[IllegalArgumentException](t.restore(99))
  }

  test("readVersion fails loudly once maintenance rewrites snapshot files") {
    val scratch = scratchDb()
    scratch.store(db.table("nation").df.repartition(4), "tt2", "overwrite")
    val t = scratch.table("tt2")
    val v1 = t.snapshot()
    t.compact() // rewrites the file set → v1's manifest goes stale
    val e = intercept[IllegalArgumentException](t.readVersion(v1))
    assert(e.getMessage.contains("append-only"),
      s"stale snapshot must name the contract: ${e.getMessage}")
  }

  test("snapshot of a hive-partitioned table keeps partition columns readable") {
    val scratch = scratchDb()
    val path = scratch.pathOf("tt3")
    db.table("nation").df.withColumn("r", col("n_regionkey"))
      .write.partitionBy("r").mode("overwrite").parquet(path)
    val t = scratch.table("tt3")
    val v1 = t.snapshot()
    val back = t.readVersion(v1)
    assert(back.columns.contains("r"), "basePath read must resolve the partition column")
    assert(back.groupBy("r").count().count() == 5)
  }

  test("DELETE on a partitioned table preserves the partition layout") {
    val scratch = scratchDb()
    val path = scratch.pathOf("del_p")
    db.table("nation").df.withColumn("r", col("n_regionkey"))
      .write.partitionBy("r").mode("overwrite").parquet(path)
    val rc = scratch.execute("DELETE FROM del_p WHERE n_nationkey < 5")
      .collect()(0).getLong(0)
    assert(rc == 5)
    val after = new java.io.File(path).listFiles()
      .filter(d => d.isDirectory && d.getName.startsWith("r="))
    assert(after.nonEmpty, "hive layout must survive the rewrite")
    assert(scratch.table("del_p").count == 20)
  }

  test("case-only view collisions fail loudly (temp views are case-insensitive)") {
    val scratch = scratchDb()
    scratch.store(db.table("region").df, "Cased", "overwrite")
    scratch.store(db.table("region").df.limit(2), "cased", "overwrite")
    val e = intercept[IllegalStateException](
      scratch.execute("SELECT count(*) AS n FROM cased"))
    assert(e.getMessage.contains("Cased") && e.getMessage.contains("cased"))
  }

  test("jdbc replace refuses when the staging name is already a user table") {
    val url = "jdbc:derby:memory:graftjdbc4;create=true"
    val jdb = Datum.connect(url)
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.executeUpdate("CREATE TABLE GUARDT (id BIGINT, name VARCHAR(8))")
      st.executeUpdate("INSERT INTO GUARDT VALUES (1,'a'),(2,'b')")
      st.executeUpdate("CREATE TABLE GUARDT_GRAFT_STAGE (x INT)")
      st.executeUpdate("INSERT INTO GUARDT_GRAFT_STAGE VALUES (42)")
      st.close()
      val e = intercept[IllegalStateException](
        jdb.execute("DELETE FROM GUARDT WHERE id = 1"))
      assert(e.getMessage.contains("GUARDT_GRAFT_STAGE"))
      // both the target and the pre-existing user table are untouched
      assert(jdb.table("GUARDT").count == 2)
      assert(jdb.table("GUARDT_GRAFT_STAGE").count == 1)
    } finally conn.close()
  }

  test("execute registers only the relations its SQL references") {
    val scratch = scratchDb()
    scratch.store(db.table("region").df, "exe_x", "overwrite")
    scratch.store(db.table("nation").df, "exe_y", "overwrite")
    // canary: plant a wrong view under exe_y's view name, then run a
    // statement that references only exe_x — the canary must survive
    // (registering everything would overwrite it)
    spark.range(1).toDF("canary").createOrReplaceTempView("exe_y")
    assert(scratch.execute("SELECT count(*) AS n FROM exe_x").collect()(0).getLong(0) == 5)
    assert(spark.table("exe_y").columns.toSeq == Seq("canary"),
      "unreferenced table must not be registered")
    // a statement that DOES reference exe_y replaces the canary on demand
    assert(scratch.execute("SELECT count(*) AS n FROM exe_y").collect()(0).getLong(0) == 25)
  }

  test("parseCredentialUrl extracts user/password/host/db (ref datum/util.py:8-17)") {
    assert(Datum.parseCredentialUrl("alice:s3cr3t@dbhost:5432/warehouse") ==
      ((Some("alice"), Some("s3cr3t"), "dbhost:5432", "warehouse")))
    assert(Datum.parseCredentialUrl("dbhost/warehouse") ==
      ((None, None, "dbhost", "warehouse")))
    assert(Datum.parseCredentialUrl("bob@dbhost/w") ==
      ((Some("bob"), None, "dbhost", "w")))
  }

  private var scratchN = 0
  test("partitioned mview: incremental refresh rewrites only the delta's partitions") {
    import spark.implicits._
    val db2 = scratchDb()
    val v1 = Seq(("d1", "a", 1L), ("d2", "a", 2L)).toDF("day", "t", "n")
    db2.createMViewPartitioned("mvp", v1, Seq("day"))
    val d1Dir = new java.io.File(db2.pathOf("mvp"), "day=d1")
    def d1State() = d1Dir.listFiles().filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toSet
    val before = d1State()
    // refresh touches d2 (changed) and d3 (new) — d1 must not be rewritten
    val refreshed = Seq(("d2", "a", 5L), ("d3", "b", 7L)).toDF("day", "t", "n")
    db2.refreshMViewPartitions("mvp", refreshed, Seq("day"))
    assert(d1State() == before, "untouched partition was rewritten")
    val out = spark.read.parquet(db2.pathOf("mvp"))
      .select("day", "t", "n").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(out == Set(("d1", "a", 1L), ("d2", "a", 5L), ("d3", "b", 7L)))
  }

  test("bucketized upsert rewrites only the delta's buckets; fallback merges whole table") {
    import spark.implicits._
    val db2 = scratchDb()
    val base = (1L to 64L).map(k => (k, s"v$k")).toDF("k", "v")
    db2.store(base, "ups", "overwrite")
    val tbl = db2.table("ups")
    tbl.bucketize(Seq("k"), 8)
    val bdir = (i: Int) => new java.io.File(db2.pathOf("ups"), s"bucket=$i")
    def stateOf(i: Int) = Option(bdir(i).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(f => f.getName -> f.lastModified()).toSet
    // delta touches exactly the buckets of keys 3 (update) and 1000 (insert)
    val touched = spark.sql(
      "SELECT CAST(pmod(xxhash64(CAST(3 AS BIGINT)), 8) AS INT), " +
        "CAST(pmod(xxhash64(CAST(1000 AS BIGINT)), 8) AS INT)")
      .collect()(0) match { case r => Set(r.getInt(0), r.getInt(1)) }
    val before = (0 until 8).filterNot(touched).map(i => i -> stateOf(i)).toMap
    tbl.upsert(Seq((3L, "updated"), (1000L, "new")).toDF("k", "v"), Seq("k"))
    (0 until 8).filterNot(touched).foreach { i =>
      assert(stateOf(i) == before(i), s"untouched bucket $i was rewritten")
    }
    val got = db2.table("ups").df.select("k", "v").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.size == 65 && got(3L) == "updated" && got(1000L) == "new" &&
      got(4L) == "v4")
    // unbucketed fallback: same semantics via full rewrite
    db2.store(base, "ups2", "overwrite")
    db2.table("ups2").upsert(Seq((3L, "u2"), (99L, "n2")).toDF("k", "v"), Seq("k"))
    val got2 = db2.table("ups2").df.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got2.size == 65 && got2(3L) == "u2" && got2(99L) == "n2")
    // stale-sidecar healing: dropTable kills the sidecar, and even a
    // manually-stranded one must not push a flat table down the bucketed
    // path (which would write bucket= dirs beside flat files)
    db2.dropTable("ups")
    assert(!new java.io.File(db2.pathOf("ups") + ".properties").exists(),
      "dropTable must remove the metadata sidecar")
    db2.store(base, "ups", "overwrite")
    db2.table("ups").upsert(Seq((5L, "h5")).toDF("k", "v"), Seq("k"))
    val flatFiles = Option(new java.io.File(db2.pathOf("ups")).listFiles())
      .getOrElse(Array.empty)
    assert(!flatFiles.exists(f => f.isDirectory && f.getName.startsWith("bucket=")),
      "healed table must stay flat")
    val got3 = db2.table("ups").df.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("v")).toMap
    assert(got3.size == 64 && got3(5L) == "h5")
  }

  test("file skipping: pruned read scans only intersecting + uncovered files; stale sidecar stays conservative") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("skip"))
    val tbl = db2.table("skip")
    val expect = (50L to 150L).toSet
    // un-analyzed: plain full scan, correct values
    val noStats = tbl.readPruned("k", 50L, 150L)
    assert(noStats.inputFiles.length == tbl.df.inputFiles.length,
      "no sidecar -> no skipping")
    assert(noStats.select("k").collect().map(_.getLong(0)).toSet == expect)
    assert(tbl.analyzeStats(Seq("k")) == 6L, "one stats row per file")
    val pruned = tbl.readPruned("k", 50L, 150L)
    assert(pruned.inputFiles.length < 6,
      s"range-clustered files must be skipped: ${pruned.inputFiles.length}")
    assert(pruned.select("k").collect().map(_.getLong(0)).toSet == expect,
      "skipping must never change results")
    // fully out of range: zero files scanned, empty result with schema
    assert(tbl.readPruned("k", 10000L, 20000L).count() == 0L)
    // façade append AFTER analyze: the sidecar is delta-maintained
    // (c25), so the new file is covered — a range inside it serves, and
    // a range outside it can now SKIP it
    tbl.write(Seq((1000L, "x")).toDF("k", "v"))
    assert(tbl.readPruned("k", 900L, 1100L)
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(1000L),
      "appended rows are served")
    assert(tbl.readPruned("k", 50L, 150L).inputFiles.length < 7,
      "a delta-maintained append stays skippable")
    // OUT-OF-BAND append (no façade): the new file has no stats —
    // always scanned, never hidden
    Seq((2000L, "y")).toDF("k", "v")
      .write.mode("append").parquet(db2.pathOf("skip"))
    assert(tbl.readPruned("k", 1900L, 2100L)
      .select("k").collect().map(_.getLong(0)).toSeq == Seq(2000L),
      "uncovered files are served conservatively")
    // overwrite: every live file is unknown to the sidecar — full scan
    db2.store((1L to 10L).map(k => (k, "w")).toDF("k", "v"), "skip", "overwrite")
    assert(tbl.readPruned("k", 2L, 3L)
      .select("k").collect().map(_.getLong(0)).toSet == Set(2L, 3L),
      "a stale sidecar can skip nothing but must lose nothing")
    // the sidecar dies with the table
    db2.dropTable("skip")
    assert(!new java.io.File(db2.pathOf("skip") + ".stats").exists(),
      "dropTable must remove the stats sidecar")
  }

  test("aggFromStats: metadata-only answer iff the sidecar tracks the column and covers the files") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(2)
      .write.mode("overwrite").parquet(db2.pathOf("meta"))
    val tbl = db2.table("meta")
    assert(tbl.aggFromStats("k").isEmpty, "no sidecar -> refuse")
    tbl.analyzeStats(Seq("k")): Unit
    assert(tbl.aggFromStats("v").isEmpty, "untracked column -> refuse")
    val a = tbl.aggFromStats("k").get
    assert(a.inputFiles.forall(_.contains(".stats")), "zero data-file I/O")
    val row = a.collect()(0)
    assert(row.getLong(0) == 100L && row.getLong(1) == 1L &&
      row.getLong(2) == 100L, s"$row")
    // c28 on the raw-SQL surface: COUNT(*) takes the same sidecar route,
    // named as Spark names it when unaliased and by its alias otherwise
    def sqlCount(q: String, name: String, metaOnly: Boolean): Long = {
      val d = db2.execute(q)
      assert(d.columns.toSeq == Seq(name), s"$q: ${d.columns.toSeq}")
      assert(d.inputFiles.nonEmpty &&
        d.inputFiles.forall(_.contains(".stats")) == metaOnly,
        s"$q: ${d.inputFiles.toSeq}")
      d.collect()(0).getLong(0)
    }
    assert(sqlCount("SELECT count(*) FROM meta", "count(1)", true) == 100L)
    assert(sqlCount("SELECT COUNT(1) FROM meta", "count(1)", true) == 100L)
    assert(sqlCount("SELECT count(*) AS n FROM meta", "n", true) == 100L)
    // façade append: the sidecar is delta-maintained (c25) — the
    // metadata answer tracks the append without a rescan
    tbl.write(Seq((101L, "x")).toDF("k", "v"))
    val b = tbl.aggFromStats("k")
      .getOrElse(fail("delta-maintained sidecar must keep serving"))
    val rb = b.collect()(0)
    assert(rb.getLong(0) == 101L && rb.getLong(2) == 101L, s"$rb")
    // a served statement binds no view, so the scan that follows an
    // out-of-band write below lists the files afresh
    assert(sqlCount("SELECT count(*) FROM meta", "count(1)", true) == 101L)
    // out-of-band append (no façade): coverage breaks -> refuse
    Seq((102L, "y")).toDF("k", "v")
      .write.mode("append").parquet(db2.pathOf("meta"))
    assert(tbl.aggFromStats("k").isEmpty, "stale coverage -> refuse")
    // the SQL count refuses the stale sidecar too: a data scan, same name
    assert(sqlCount("SELECT count(*) FROM meta", "count(1)", false) == 102L)
  }

  test("pruneBounds: necessary conditions only — BETWEEN/cmp/IN extracted, OR/NOT/functions ignored") {
    def b(w: String) = api.Table.pruneBounds(spark, w)
    assert(b("k BETWEEN 5 AND 9") == Seq(("k", Some(5), Some(9))))
    assert(b("k >= 5 AND k < 9 AND v <> 'x'") ==
      Seq(("k", Some(5), None), ("k", None, Some(9))))
    // literal-first spellings flip the side
    assert(b("5 <= k AND 9 > k") ==
      Seq(("k", Some(5), None), ("k", None, Some(9))))
    assert(b("k = 7") == Seq(("k", Some(7), Some(7))))
    // IN over same-class literals contributes its [min, max] envelope
    assert(b("k IN (9, 2, 5)") == Seq(("k", Some(2), Some(9))))
    // mixed-class IN lists need SQL coercion semantics — unpruned
    assert(b("k IN (1, 2.5)").isEmpty)
    // NOT-of-equality normalizes to the two-sided gap, whose union
    // envelope is unbounded — still contributes nothing HERE (the DNF
    // route prunes it); function-of-column conjuncts stay opaque
    assert(b("NOT (k = 1)").isEmpty)
    assert(b("abs(k) < 5").isEmpty)
    assert(b("k < 5 AND (g = 1 OR g = 2)") ==
      Seq(("k", None, Some(5)), ("g", Some(1), Some(2))))
    // col-vs-col and unparseable text degrade to no pruning
    assert(b("k < g").isEmpty)
    assert(b("this is not sql").isEmpty)
  }

  test("pruneBounds: OR contributes the union band iff every branch bounds the column") {
    def b(w: String) = api.Table.pruneBounds(spark, w)
    // every branch bounds k on both sides -> [min of los, max of his]
    assert(b("k = 1 OR k = 5") == Seq(("k", Some(1), Some(5))))
    assert(b("k BETWEEN 1 AND 3 OR k BETWEEN 8 AND 9") ==
      Seq(("k", Some(1), Some(9))))
    // one branch open above -> union keeps only the shared lo side
    assert(b("k BETWEEN 1 AND 3 OR k > 7") == Seq(("k", Some(1), None)))
    // a branch on a DIFFERENT column leaves the disjunction unbounded
    assert(b("k = 1 OR j = 5").isEmpty)
    // a non-extractable branch (function) defeats the envelope
    assert(b("k = 1 OR abs(k) = 5").isEmpty)
    // branch conjunctions fold to their tightest bound first
    assert(b("(k >= 2 AND k <= 3 AND g = 1) OR k IN (7, 9)") ==
      Seq(("k", Some(2), Some(9))))
    // nested ORs compose through recursion
    assert(b("k = 1 OR (k = 4 OR k = 6)") == Seq(("k", Some(1), Some(6))))
    // mixed literal classes across branches aren't orderable -> dropped
    assert(b("k = 1 OR k = 2.5").isEmpty)
    // OR alongside a plain conjunct: both contribute
    assert(b("v >= 10 AND (k = 1 OR k = 5)") ==
      Seq(("v", Some(10), None), ("k", Some(1), Some(5))))
  }

  test("pruneDnf: disjoint ORs keep branch structure; IN becomes point bands; unbounded branches drop the conjunct") {
    def d(w: String) = api.Table.pruneDnf(spark, w)
    // disjoint ranges stay separate branches (the envelope collapsed them)
    assert(d("k <= 400 OR k >= 2600") ==
      Seq(Seq(Seq(("k", None, Some(400))), Seq(("k", Some(2600), None)))))
    // IN -> per-value point branches, in list order
    assert(d("k IN (5, 1, 9)") ==
      Seq(Seq(Seq(("k", Some(5), Some(5))), Seq(("k", Some(1), Some(1))),
        Seq(("k", Some(9), Some(9))))))
    // a branch may bound a DIFFERENT column — still a necessary
    // condition (a file failing BOTH bands holds no matching row)
    assert(d("k = 1 OR j = 5") ==
      Seq(Seq(Seq(("k", Some(1), Some(1))), Seq(("j", Some(5), Some(5))))))
    // a branch with nothing extractable defeats the whole conjunct
    assert(d("k = 1 OR abs(k) = 5").isEmpty)
    // conjunction of a plain band and an OR: two dnfs
    assert(d("v >= 10 AND (k = 1 OR k = 5)") ==
      Seq(Seq(Seq(("v", Some(10), None))),
        Seq(Seq(("k", Some(1), Some(1))), Seq(("k", Some(5), Some(5))))))
    // branch conjunctions keep their bands together
    assert(d("(k >= 2 AND j = 1) OR k = 7") ==
      Seq(Seq(Seq(("k", Some(2), None), ("j", Some(1), Some(1))),
        Seq(("k", Some(7), Some(7))))))
    // unparseable -> nothing
    assert(d("not sql at all").isEmpty)
  }

  test("nnf: NOT pushes through comparisons/AND/OR/BETWEEN/IN before extraction") {
    def b(w: String) = api.Table.pruneBounds(spark, w)
    def d(w: String) = api.Table.pruneDnf(spark, w)
    // NOT-of-comparison flips (exact in 3VL: both sides NULL on a null k)
    assert(b("NOT (k > 5)") == Seq(("k", None, Some(5))))
    assert(b("NOT (k >= 5)") == Seq(("k", None, Some(5)))) // strict < prunes inclusively
    assert(b("NOT (k < 5)") == Seq(("k", Some(5), None)))
    assert(b("NOT (5 < k)") == Seq(("k", None, Some(5)))) // literal-first flips the side
    // De Morgan: NOT (a OR b) = conjunction of flipped comparisons
    assert(b("NOT (k > 9 OR k < 2)") ==
      Seq(("k", None, Some(9)), ("k", Some(2), None)))
    // NOT (a AND b) = disjunction — DNF keeps the branches
    assert(d("NOT (k < 2 AND g = 1)").nonEmpty)
    // NOT BETWEEN = the outside ranges as two DNF branches
    assert(d("k NOT BETWEEN 500 AND 2500") ==
      Seq(Seq(Seq(("k", None, Some(500))), Seq(("k", Some(2500), None)))))
    // <> and NOT IN become point gaps the DNF check can skip on
    assert(d("k <> 5") ==
      Seq(Seq(Seq(("k", None, Some(5))), Seq(("k", Some(5), None)))))
    assert(d("k NOT IN (3, 7)").length == 2) // one gap conjunct per value
    // double negation cancels
    assert(b("NOT (NOT (k > 5))") == Seq(("k", Some(5), None)))
    // null-safe equality must stay OPAQUE: NOT (k <=> 5) is TRUE on a
    // null k, so flipping it to a gap would skip all-null files that
    // hold matching rows
    assert(b("NOT (k <=> 5)").isEmpty)
    assert(d("NOT (k <=> 5)").isEmpty)
  }

  test("prunedScanDnf: disjoint OR skips the gap files; IN skips between its values") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 3000L).map(k => (k, k % 7)).toDF("k", "g")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("dnf"))
    val tbl = db2.table("dnf")
    tbl.analyzeStats(Seq("k")): Unit
    val total = tbl.df.inputFiles.length
    assert(total >= 5, s"fixture needs several files, got $total")
    val gap = tbl.read(where = Some("k <= 400 OR k >= 2600"))
    assert(gap.inputFiles.length < total, "the gap files must be skipped")
    assert(gap.count() == 400L + 401L, "values unchanged by the skip")
    val in = tbl.read(where = Some("k IN (50, 2950)"))
    assert(in.inputFiles.length <= 2 && in.count() == 2L,
      s"IN point bands: ${in.inputFiles.length} files")
    // cross-column OR: a file failing BOTH bands is skippable; values ok
    val cross = tbl.read(where = Some("k = 50 OR g = 99"))
    assert(cross.count() == 1L, "g=99 never matches; k=50 once")
    // the residual filter always applies: a range read inside one branch
    val half = tbl.read(where = Some("(k <= 400 OR k >= 2600) AND k % 2 = 0"))
    assert(half.count() == 200L + 201L)
  }

  test("pruneBounds: IN-list string envelope sorts in Spark's UTF8 binary order") {
    def b(w: String) = api.Table.pruneBounds(spark, w)
    // U+1F600 (4-byte UTF8, F0…) sorts ABOVE U+FFFD (3-byte, EF…) in
    // UTF8 binary order, but BELOW it in java.lang.String's UTF-16
    // code-unit order (surrogate 0xD83D < 0xFFFD) — the envelope must
    // use Spark's ordering or the hi bound is wrong and a file holding
    // the emoji could be skipped
    val emoji = "😀" // U+1F600
    val repl = "�"        // U+FFFD
    assert(emoji.compareTo(repl) < 0, "fixture: Java order has emoji first")
    assert(b(s"k IN ('$repl', '$emoji')") ==
      Seq(("k", Some(repl), Some(emoji))))
  }

  test("bandComparable: bounds participate only on order-isomorphic type pairs") {
    import org.apache.spark.sql.types._
    def ok(dt: DataType, v: Any) = api.Table.bandComparable(dt, v)
    // numeric <-> numeric, any widths (widening casts are monotone)
    assert(ok(IntegerType, 5) && ok(LongType, 5) && ok(IntegerType, 5L))
    assert(ok(DoubleType, 5) && ok(IntegerType, 2.5) &&
      ok(DecimalType(10, 2), 3L) && ok(LongType, BigDecimal(7)))
    // string <-> string only
    assert(ok(StringType, "x") && !ok(StringType, 5) &&
      !ok(StringType, 5.0) && !ok(IntegerType, "5"))
    // date/timestamp/ntz/boolean with their own kind only
    assert(ok(DateType, java.sql.Date.valueOf("2024-01-01")) &&
      ok(DateType, java.time.LocalDate.of(2024, 1, 1)) &&
      !ok(DateType, "2024-01-01") && !ok(StringType,
        java.sql.Date.valueOf("2024-01-01")))
    assert(ok(TimestampType, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")) &&
      ok(TimestampType, java.time.Instant.EPOCH) &&
      !ok(TimestampType, java.sql.Date.valueOf("2024-01-01")) &&
      !ok(DateType, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")))
    assert(ok(TimestampNTZType, java.time.LocalDateTime.of(2024, 1, 1, 0, 0)) &&
      !ok(TimestampNTZType, java.time.Instant.EPOCH))
    assert(ok(BooleanType, true) && !ok(BooleanType, 1))
    // non-atomic stats types never band-check
    assert(!ok(BinaryType, Array[Byte](1)) && !ok(ArrayType(IntegerType), Seq(1)))
  }

  test("prunedScan drops type-mismatched bounds: numeric literal never skips a string column's files") {
    import spark.implicits._
    val db2 = scratchDb()
    // file A's lexicographic band is inverted vs numeric: min="100",
    // max="99" — the unguarded band check (cast("99")=99 < 100) would
    // skip it and silently lose the matching row "100"
    Seq("100", "99").toDF("code").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("tg"))
    Seq("200", "300").toDF("code").coalesce(1)
      .write.mode("append").parquet(db2.pathOf("tg"))
    val tbl = db2.table("tg")
    tbl.analyzeStats(Seq("code")): Unit
    val total = tbl.df.inputFiles.length
    val guarded = tbl.read(where = Some("code >= 100"))
    assert(guarded.inputFiles.length == total,
      "numeric bound on a string column must fall back to the full scan")
    assert(guarded.select("code").collect().map(_.getString(0)).sorted.toSeq ==
      Seq("100", "200", "300"), "the would-be-skipped row '100' must survive")
    // the same column with a type-matched literal still prunes
    val pruned = tbl.read(where = Some("code <= '150'"))
    assert(pruned.inputFiles.length < total,
      "string bound on a string column must keep pruning")
    assert(pruned.select("code").collect().map(_.getString(0)).toSeq ==
      Seq("100"))
  }

  test("readPrunedAll: conjunction prunes per dim; an all-null band is skippable") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 50L).map(k => (k, None: Option[Long])).toDF("k", "g")
      .coalesce(1).write.mode("overwrite").parquet(db2.pathOf("zz"))
    (51L to 100L).map(k => (k, Some(k - 50L))).toDF("k", "g")
      .coalesce(1).write.mode("append").parquet(db2.pathOf("zz"))
    val tbl = db2.table("zz")
    tbl.analyzeStats(Seq("k", "g")): Unit
    assert(tbl.readPruned("k", 1L, 100L).inputFiles.length == 2,
      "both files carry k in range")
    val both = tbl.readPrunedAll(Seq(("k", 1L, 100L), ("g", 1L, 100L)))
    assert(both.inputFiles.length == 1,
      "the all-null g band fails the conjunction — no row there can match")
    assert(both.count() == 50L, "values unchanged by the skip")
  }

  test("createIndex refreshes an existing stats sidecar to the clustered layout") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(6)
      .write.mode("overwrite").parquet(db2.pathOf("clus"))
    val tbl = db2.table("clus")
    tbl.analyzeStats(Seq("k")): Unit
    val total = tbl.df.inputFiles.length
    assert(tbl.readPruned("k", 50L, 150L).inputFiles.length == total,
      "interleaved bands skip nothing")
    tbl.createIndex(Seq("k")): Unit
    val after = tbl.readPruned("k", 50L, 150L)
    assert(after.inputFiles.length < total,
      s"clustered + auto-refreshed sidecar must skip: ${after.inputFiles.length}/$total")
    assert(after.select("k").collect().map(_.getLong(0)).toSet ==
      (50L to 150L).toSet, "clustering must never change results")
  }

  test("vacuum handles tombstone-fold residue: orphaned .bak_l restored, .stage_l reclaimed, superseded .bak_l dropped") {
    import spark.implicits._
    val scratch = scratchDb()
    // a list-partitioned serving index INSIDE the warehouse root — the
    // e82/e94 placement vacuum's sweep is claimed to cover
    val idx = new java.io.File(scratch.pathOf("vac_tomb_idx"))
    Seq((0L, 0), (1L, 1), (2L, 2)).toDF("vec_id", "list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(idx.getPath)
    scratch.vacuum(): Unit // reset residue
    // crash INSIDE compactTombstones' sibling swap: list_id=1 renamed
    // aside, process died pre-promotion — the backup holds the only copy
    val live = new java.io.File(idx, "list_id=1")
    assert(live.renameTo(new java.io.File(idx.getPath + ".bak_l1")),
      "test setup: orphan the partition aside")
    // plus a stranded un-promoted stage
    new java.io.File(idx.getPath + ".stage_l2").mkdirs()
    val rep = scratch.vacuum()
    assert(rep("recovered") == 1 && rep("tomb_stage") == 1 &&
      rep("tomb_bak") == 0, s"$rep")
    assert(live.isDirectory, "orphaned partition backup restored in place")
    spark.catalog.refreshByPath(idx.getPath)
    assert(spark.read.parquet(idx.getPath).count() == 3,
      "all rows readable after restoration")
    // superseded backup (live dir present) is residue — reclaimed
    new java.io.File(idx.getPath + ".bak_l0").mkdirs()
    val rep2 = scratch.vacuum()
    assert(rep2("tomb_bak") == 1 && rep2("recovered") == 0, s"$rep2")
    assert(!new java.io.File(idx.getPath + ".bak_l0").exists())
    assert(scratch.vacuum().values.sum == 0, "vacuum converges")
  }

  test("extendStats crash residue: a staged-but-unswapped delta leaves conservative reads; vacuum converges") {
    import spark.implicits._
    val scratch = scratchDb()
    (1L to 600L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(scratch.pathOf("exst"))
    val t = scratch.table("exst")
    scratch.vacuum(): Unit
    t.analyzeStats(Seq("k")): Unit
    // the real delta-maintenance path first: a façade append extends
    // the sidecar and the metadata route keeps serving
    t.write((601L to 700L).map(k => (k, s"v$k")).toDF("k", "v"))
    assert(t.aggFromStats("k").nonEmpty, "delta maintenance serves")
    // crash: a SECOND append committed its data, extendStats staged the
    // extended sidecar, and the process died before the swap — live
    // sidecar is the stale pre-append one, the stage is an orphan
    (701L to 800L).map(k => (k, s"v$k")).toDF("k", "v")
      .write.mode("append").parquet(t.path)
    val stage = new java.io.File(t.path + ".stats.stage_tmp")
    stage.mkdirs() // the orphaned stage (content irrelevant to vacuum)
    // stale coverage -> the metadata route REFUSES (conservative), the
    // pruned read still scans the uncovered file (never loses rows)
    assert(t.aggFromStats("k").isEmpty, "stale sidecar must refuse")
    assert(t.readPruned("k", 750L, 760L).count() == 11L,
      "uncovered appended file must scan conservatively")
    val rep = scratch.vacuum()
    assert(rep("stage_tmp") == 1 && !stage.exists(), s"$rep")
    // re-analyze restores exact coverage and the metadata route
    t.analyzeStats(Seq("k")): Unit
    val agg = t.aggFromStats("k").get.collect()(0)
    assert(agg.getLong(0) == 800L, s"recovered coverage: $agg")
    assert(scratch.vacuum().values.sum == 0, "convergent")
  }

  test("extendStats failure is contained: a poisoned sidecar never fails a committed append") {
    import spark.implicits._
    val scratch = scratchDb()
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .write.mode("overwrite").parquet(scratch.pathOf("poison"))
    val t = scratch.table("poison")
    t.analyzeStats(Seq("k")): Unit
    // poison the sidecar: replace it with one whose schema cannot union
    // with fresh per-file stats (min_k becomes an array) — the append's
    // data must still land and the write must NOT throw
    def poison(tablePath: String, column: String): Unit = {
      val stats = tablePath + ".stats"
      val tmp = tablePath + ".stats_poison"
      spark.read.parquet(stats).withColumn(column, array(lit("x")))
        .write.mode("overwrite").parquet(tmp)
      rmrf(new java.io.File(stats))
      assert(new java.io.File(tmp).renameTo(new java.io.File(stats)))
      spark.catalog.refreshByPath(stats)
    }
    poison(t.path, "min_k")
    t.write((101L to 150L).map(k => (k, s"v$k")).toDF("k", "v")) // must not throw
    assert(t.count == 150L, "the append landed despite sidecar failure")
    // containment dropped the sidecar -> skipping degrades to full scan
    assert(!new java.io.File(t.path + ".stats").exists(),
      "a failed maintenance must drop the sidecar, not leave a stale lie")
    assert(t.readPruned("k", 10L, 20L).count() == 11L)
    // the COW DELETE swap maintains the sidecar through the same append:
    // poison a column the predicate does not band on, so the split still
    // prunes and the swap commits before the maintenance meets the poison
    (1L to 100L).map(k => (k, k)).toDF("k", "j")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(scratch.pathOf("poisondml"))
    val d = scratch.table("poisondml")
    d.analyzeStats(Seq("k", "j")): Unit
    val filesBefore = d.df.inputFiles.toSet
    poison(d.path, "min_j")
    val deleted = scratch.execute("DELETE FROM poisondml WHERE k <= 10")
      .collect()(0).getLong(0) // must not throw
    assert(deleted == 10L && d.count == 90L, "the swap committed")
    assert(d.df.inputFiles.exists(filesBefore.contains),
      "the untouched file survives by reference (the COW path ran)")
    assert(!new java.io.File(d.path + ".stats").exists(),
      "a drifted sidecar is dropped on the DML path too")
    assert(d.readPruned("k", 5L, 20L).count() == 10L)
  }

  test("extendStats transient failure LEAVES the readable sidecar (stale coverage stays safe)") {
    import spark.implicits._
    val scratch = scratchDb()
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(scratch.pathOf("trans"))
    val t = scratch.table("trans")
    t.analyzeStats(Seq("k")): Unit
    val statsDir = new java.io.File(t.path + ".stats")
    // inject a TRANSIENT failure: a file squatting on the committer's
    // _temporary path makes the segment append's job setup fail while
    // the sidecar itself stays perfectly readable (underscore-prefixed
    // names are invisible to parquet reads)
    val squatter = new java.io.File(statsDir, "_temporary")
    new java.io.FileOutputStream(squatter).close()
    try t.write((101L to 120L).map(k => (k, s"v$k")).toDF("k", "v"))
    finally { squatter.delete(): Unit }
    assert(t.count == 120L, "the append landed despite sidecar failure")
    assert(statsDir.exists,
      "a transient failure must LEAVE the readable sidecar (ADVICE: " +
        "only corruption drops)")
    // stale is safe: uncovered appended files scan; coverage refuses
    assert(t.aggFromStats("k").isEmpty, "stale coverage must refuse")
    assert(t.readPruned("k", 101L, 120L).count() == 20L,
      "skipping stays sound over the stale sidecar")
    // still serving for the files it covers: old-band read skips nothing
    // wrongly and a re-analyze restores coverage
    t.analyzeStats(Seq("k")): Unit
    assert(t.aggFromStats("k").nonEmpty)
    // the COW DELETE swap meets the same transient failure: the swap
    // commits and the readable, stale sidecar stays in place
    val segsBefore = statsDir.list().toSet
    new java.io.FileOutputStream(squatter).close()
    val deleted =
      try scratch.execute("DELETE FROM trans WHERE k > 110").collect()(0).getLong(0)
      finally { squatter.delete(): Unit }
    assert(deleted == 10L && t.count == 110L, "the swap committed")
    assert(statsDir.exists && statsDir.list().toSet == segsBefore,
      "a transient failure must LEAVE the readable sidecar as it was")
    assert(t.aggFromStats("k").isEmpty, "stale coverage must refuse")
    assert(t.readPruned("k", 101L, 120L).count() == 10L,
      "skipping stays sound over the stale sidecar")
    t.analyzeStats(Seq("k")): Unit
    assert(t.aggFromStats("k").get.collect()(0).getLong(0) == 110L)
  }

  test("versioned-ref rewrite: unknown identifiers stay verbatim; a failed pin leaves no view residue") {
    import spark.implicits._
    val db2 = scratchDb()
    Seq((1L, "a"), (2L, "b")).toDF("k", "v")
      .write.mode("overwrite").parquet(db2.pathOf("vr"))
    val t = db2.table("vr")
    val v1 = t.snapshot()
    // the versioned phrase inside a string literal names an UNKNOWN
    // table -> left verbatim, the statement returns the literal intact
    val lit = db2.execute(
      "SELECT 'FROM nosuch VERSION AS OF 1' AS s FROM vr WHERE k = 1")
    assert(lit.collect()(0).getString(0) == "FROM nosuch VERSION AS OF 1")
    // a bad version number fails loudly AND registers no view residue
    val before = spark.catalog.listTables().count()
    assertThrows[IllegalArgumentException](
      db2.execute(s"SELECT * FROM vr VERSION AS OF 99"))
    assert(spark.catalog.listTables().count() == before,
      "failed rewrite must not leave temp views behind")
    assert(db2.execute(s"SELECT count(*) AS n FROM vr VERSION AS OF $v1")
      .collect()(0).getLong(0) == 2L)
  }

  test("SQL skipping: a CTE shadowing a physical table is never rewritten to the pruned scan") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 600L).map(k => (k, k % 7)).toDF("k", "g")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("sh"))
    db2.table("sh").analyzeStats(Seq("k")): Unit
    // the CTE named `sh` holds DIFFERENT data (k+1000); the filtered
    // reference must resolve to the CTE, not a pruned physical scan
    val out = db2.execute(
      "WITH sh AS (SELECT k + 1000 AS k FROM sh) " +
        "SELECT count(*) AS n, CAST(min(k) AS BIGINT) AS lo FROM sh " +
        "WHERE k BETWEEN 1050 AND 1100")
    val r = out.collect()(0)
    assert(r.getLong(0) == 51L && r.getLong(1) == 1050L,
      s"CTE shadowing broken: ${r}")
  }

  test("SQL skipping: ambiguous unqualified columns never attribute to a side; qualified ones do") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 600L).map(k => (k, s"a$k")).toDF("k", "va")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("ja"))
    (1L to 600L).map(k => (k, s"b$k")).toDF("k", "vb")
      .repartitionByRange(6, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("jb"))
    db2.table("ja").analyzeStats(Seq("k")): Unit
    db2.table("jb").analyzeStats(Seq("k")): Unit
    val totalA = db2.table("ja").df.inputFiles.length
    // unqualified k is ambiguous across ja/jb -> Spark itself rejects
    // the query; with USING the column resolves but our attribution
    // must stay conservative. Use qualified bounds: both sides prune.
    val both = db2.execute(
      "SELECT count(*) AS n FROM ja JOIN jb ON ja.k = jb.k " +
        "WHERE ja.k BETWEEN 50 AND 150 AND jb.k BETWEEN 50 AND 150")
    assert(both.inputFiles.count(_.contains("/ja/")) < totalA,
      "qualified fact bound must prune ja")
    assert(both.collect()(0).getLong(0) == 101L)
    // unqualified bound over a join of tables where only ONE side has
    // the column -> attributed and pruned
    val one = db2.execute(
      "SELECT count(*) AS n FROM ja JOIN jb ON ja.k = jb.k " +
        "WHERE va >= 'a' AND ja.k BETWEEN 50 AND 150")
    assert(one.collect()(0).getLong(0) == 101L)
  }

  test("SQL skipping: concurrent statements never observe another statement's pruned binding") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 2000L).map(k => (k, k % 13)).toDF("k", "g")
      .repartitionByRange(8, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("cc"))
    db2.table("cc").analyzeStats(Seq("k")): Unit
    val total = db2.table("cc").df.inputFiles.length
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    // mix pruned range statements with full-table statements on many
    // threads: every full statement must see every file and the full
    // rowcount (the old bind-and-restore of the canonical view could
    // leak a pruned file set into a concurrently-analyzed statement)
    val futures = (1 to 24).map { i =>
      Future {
        if (i % 2 == 0) {
          val d = db2.execute(
            "SELECT count(*) AS n FROM cc WHERE k BETWEEN 100 AND 200")
          d.collect()(0).getLong(0)
        } else {
          val d = db2.execute("SELECT count(*) AS n, " +
            "CAST(min(k) AS BIGINT) AS lo, CAST(max(k) AS BIGINT) AS hi FROM cc")
          val r = d.collect()(0)
          assert(d.inputFiles.length == total,
            s"full statement lost files: ${d.inputFiles.length}/$total")
          assert(r.getLong(0) == 2000L && r.getLong(1) == 1L &&
            r.getLong(2) == 2000L, s"full statement lost rows: $r")
          r.getLong(0)
        }
      }
    }
    try {
      val results = Await.result(Future.sequence(futures), 120.seconds)
      assert(results.zipWithIndex.forall { case (n, idx) =>
        if ((idx + 1) % 2 == 0) n == 101L else n == 2000L })
    } finally { pool.shutdown(); () }
  }

  /** This run's scratch warehouses and fixture roots live under a fresh
    * per-run root; the parent is wiped when the suite starts, so tables an
    * earlier run left in a reused `target/` can never leak into this one.
    */
  private lazy val scratchRoot: java.io.File = {
    val parent = new java.io.File("target/fixtures/test/api").getAbsoluteFile
    rmrf(parent)
    new java.io.File(parent, java.util.UUID.randomUUID().toString)
  }

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(): Unit
  }

  private def scratchDb() = {
    scratchN += 1
    val root = new java.io.File(scratchRoot, s"api$scratchN")
    root.mkdirs()
    Datum.connect(s"parquet://${root.getPath}")
  }

  test("versioned-ref rewrite skips matches inside string literals (even for known tables)") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 5L).toDF("k").write.mode("overwrite").parquet(db2.pathOf("vlit"))
    // the table is KNOWN but has no snapshots: before the guard, the
    // literal's text was rewritten (and readVersion(99) threw); now the
    // literal is data and round-trips verbatim
    val lit = db2.execute(
      "SELECT 'see FROM vlit VERSION AS OF 99 for history' AS s")
      .collect()(0).getString(0)
    assert(lit == "see FROM vlit VERSION AS OF 99 for history")
    val lit2 = db2.execute(
      "SELECT 'a FROM vlit DIFF FROM 1 TO 2 b' AS s").collect()(0).getString(0)
    assert(lit2 == "a FROM vlit DIFF FROM 1 TO 2 b")
    // '' escapes toggle twice and cancel: still inside the literal
    val lit3 = db2.execute(
      "SELECT 'it''s FROM vlit VERSION AS OF 7 text' AS s")
      .collect()(0).getString(0)
    assert(lit3 == "it's FROM vlit VERSION AS OF 7 text")
    // outside a literal the rewrite still works (real manifest read)
    graft.api.Database.wipeDir(db2.pathOf("vlit") + ".versions")
    val v1 = db2.table("vlit").snapshot()
    assert(db2.execute(s"SELECT count(*) AS n FROM vlit VERSION AS OF $v1")
      .collect()(0).getLong(0) == 5L)
  }

  test("maintenance lease: concurrent maintainer refuses loudly; stale lease is taken over; release is clean") {
    import graft.api.{Database, Fs}
    val db2 = scratchDb()
    val owner = db2.pathOf("lease_probe")
    val leaseFile = Fs.path(owner + ".maintenance_lease")
    // while held: a second maintainer (another thread) refuses loudly;
    // the SAME maintainer re-enters fine (folds trigger compactions)
    Database.withMaintenanceLease(owner, "op-a") {
      Database.withMaintenanceLease(owner, "op-a-nested") { () } // reentrant
      @volatile var refused = false
      val th = new Thread(() =>
        try Database.withMaintenanceLease(owner, "op-b") { () }
        catch { case _: IllegalStateException => refused = true })
      th.start(); th.join()
      assert(refused, "a second live maintainer must refuse loudly")
    }
    assert(!Fs.exists(leaseFile), "release must drop the lease")
    // a STALE lease (crashed holder, ttl lapsed) is taken over
    Fs.writeUtf8(leaseFile, "holder=dead-maintainer\nexpires=123\n")
    var ran = false
    Database.withMaintenanceLease(owner, "op-c") { ran = true }
    assert(ran && !Fs.exists(leaseFile))
    // a LIVE foreign lease refuses until its ttl lapses
    Fs.writeUtf8(leaseFile,
      s"holder=other\nexpires=${System.currentTimeMillis() + 600000L}\n")
    intercept[IllegalStateException] {
      Database.withMaintenanceLease(owner, "op-d") { () } }
    assert(Fs.exists(leaseFile), "a refused acquire must not disturb the holder")
    Fs.delete(leaseFile): Unit
    // the wired entry points acquire/release transparently
    import spark.implicits._
    (1L to 100L).toDF("k").repartition(8)
      .write.mode("overwrite").parquet(db2.pathOf("lease_t"))
    assert(db2.table("lease_t").compact() >= 1)
    db2.vacuum(): Unit
    assert(new java.io.File(db2.pathOf("lease_t")).getParentFile.listFiles()
      .forall(f => !f.getName.endsWith(".maintenance_lease")),
      "no lease residue after maintenance")
  }

  test("aggsFromStatsFiltered: exact when bands decide; refuses on nulls, straddlers, and float cross-class") {
    import spark.implicits._
    def cond(w: String) = spark.sessionState.sqlParser.parseExpression(w)
    val db2 = scratchDb()
    (1L to 10L).map(k => (k, k * 1.5)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("fma"))
    (11L to 20L).map(k => (k, k * 1.5)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(db2.pathOf("fma"))
    val tbl = db2.table("fma")
    tbl.analyzeStats(Seq("k", "v")): Unit
    val n = Seq(("count", "", "n"))
    // file-aligned predicates decide: answers match the scan exactly
    def served(w: String): Long =
      tbl.aggsFromStats(n, Some(cond(w)))
        .getOrElse(sys.error(s"must serve: $w")).collect()(0).getLong(0)
    assert(served("k <= 10") == 10L)
    assert(served("k BETWEEN 11 AND 20") == 10L)
    assert(served("NOT (k BETWEEN 11 AND 20)") == 10L)
    assert(served("k <= 10 OR k >= 11") == 20L)
    assert(served("k > 900") == 0L)
    assert(served("k IN (999)") == 0L)
    // min/max take the all-true files' bands, typed like the column
    val mm = tbl.aggsFromStats(
      Seq(("min", "k", "lo"), ("max", "k", "hi")), Some(cond("k >= 11")))
      .getOrElse(sys.error("must serve")).collect()(0)
    assert(mm.getLong(0) == 11L && mm.getLong(1) == 20L)
    // filtered SUM/AVG serve from the same decided file set
    val sa = tbl.aggsFromStats(
      Seq(("sum", "k", "s"), ("avg", "k", "a")), Some(cond("k >= 11")))
      .getOrElse(sys.error("filtered sum/avg must serve")).collect()(0)
    assert(sa.getLong(0) == (11L to 20L).sum &&
      sa.getDouble(1) == (11L to 20L).sum.toDouble / 10.0)
    // a straddling boundary refuses (15 is inside file 2)
    assert(tbl.aggsFromStats(n, Some(cond("k >= 15"))).isEmpty)
    // a DOUBLE column vs an integer literal is cross-class non-integral
    // -> refuses even on a file-aligned boundary (the float-order trap)
    assert(tbl.aggsFromStats(n, Some(cond("v <= 15.0"))).isEmpty)
    // untracked column refuses
    assert(tbl.aggsFromStats(n, Some(cond("z <= 10"))).isEmpty)
    // a NULL in a referenced column refuses the route entirely (a null
    // row's predicate can evaluate NULL — 2-valued interval logic lies
    // under NOT), even though the bands would decide
    val db3 = scratchDb()
    ((1L to 10L).map(java.lang.Long.valueOf) :+ null.asInstanceOf[java.lang.Long])
      .map(Tuple1(_)).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(db3.pathOf("fmn"))
    val tbn = db3.table("fmn")
    tbn.analyzeStats(Seq("k")): Unit
    assert(tbn.aggsFromStats(n, Some(cond("k <= 10"))).isEmpty)
    // and the SQL route agrees end-to-end: decidable serves from the
    // sidecar, the null table scans
    val sql = db2.execute(
      "SELECT count(*) AS n FROM fma WHERE k <= 10")
    assert(sql.inputFiles.forall(_.contains(".stats")))
    assert(sql.collect()(0).getLong(0) == 10L)
    val sqlNull = db3.execute(
      "SELECT count(*) AS n FROM fmn WHERE k <= 10")
    assert(sqlNull.inputFiles.exists(!_.contains(".stats")))
    assert(sqlNull.collect()(0).getLong(0) == 10L)
  }

  test("metadata SUM/AVG/COUNT(col): exact per-file BIGINT sums; nulls excluded; non-integral refuses") {
    import spark.implicits._
    val db2 = scratchDb()
    val rows: Seq[(java.lang.Long, Double)] =
      ((1L to 10L).map(java.lang.Long.valueOf) :+
        null.asInstanceOf[java.lang.Long] :+
        null.asInstanceOf[java.lang.Long]).map(k => (k, 1.5))
    rows.toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("msum"))
    (11L to 20L).map(k => (java.lang.Long.valueOf(k), 2.5)).toDF("k", "v")
      .coalesce(1).write.mode("append").parquet(db2.pathOf("msum"))
    val tbl = db2.table("msum")
    tbl.analyzeStats(Seq("k", "v")): Unit
    // whole-table statement serves from the sidecar alone
    val meta = db2.execute("SELECT sum(k) AS s, avg(k) AS a, " +
      "count(k) AS nk, count(*) AS n FROM msum")
    assert(meta.inputFiles.nonEmpty &&
      meta.inputFiles.forall(_.contains(".stats")),
      s"SUM/AVG/COUNT(col) must serve metadata-only: ${meta.inputFiles.toSeq}")
    val r = meta.collect()(0)
    assert(r.getLong(0) == (1L to 20L).sum, "sum excludes nothing but nulls")
    assert(r.getDouble(1) == (1L to 20L).sum.toDouble / 20.0, "avg over non-null rows")
    assert(r.getLong(2) == 20L, "COUNT(col) excludes the 2 null rows")
    assert(r.getLong(3) == 22L, "COUNT(*) includes them")
    // a DOUBLE column has no per-file sum (fold-order hazard): data scan
    val dbl = db2.execute("SELECT sum(v) AS sv FROM msum")
    assert(dbl.inputFiles.exists(!_.contains(".stats")),
      "non-integral SUM must fall through to the data scan")
    // the FILTERED route serves sum/avg too when the bands decide and
    // the predicate columns are null-free in every file — here they are
    // not (file 1 holds null ks), so it refuses; the null-free fma
    // fixture in the filtered test covers the serving side
    def cond(w: String) = spark.sessionState.sqlParser.parseExpression(w)
    assert(tbl.aggsFromStats(
      Seq(("sum", "k", "s")), Some(cond("k >= 11"))).isEmpty)
  }

  test("extendStats is log-structured: an append ADDS one segment (O(delta) metadata); the budget folds") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 100L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("lss"))
    val tbl = db2.table("lss")
    tbl.analyzeStats(Seq("k")): Unit
    def segs(): Seq[String] = new java.io.File(tbl.path + ".stats")
      .listFiles().filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).map(_.getName).toSeq.sorted
    val s0 = segs()
    assert(s0.size == 1, s"analyze writes the compacted form: $s0")
    tbl.write((101L to 120L).toDF("k").coalesce(1))
    val s1 = segs()
    // THE log-structure pin: the pre-append segment file survives
    // untouched and exactly one new segment landed — append cost is
    // O(appended files), never an O(#files) sidecar rewrite
    assert(s1.size == 2 && s0.forall(s1.contains),
      s"append must add a segment, not rewrite: $s0 -> $s1")
    // the unioned segments serve exactly
    val m = tbl.aggFromStats("k").getOrElse(sys.error("must serve")).collect()(0)
    assert(m.getLong(0) == 120L &&
      m.getLong(m.fieldIndex("min_k")) == 1L &&
      m.getLong(m.fieldIndex("max_k")) == 120L)
    // and the appended file's band participates in skipping (disjoint
    // range -> the original file is skipped)
    val high = tbl.readPruned("k", 110L, 118L)
    assert(high.inputFiles.length == 1 && high.count() == 9L)
    // the budget folds the log back to one file, values unchanged
    (1 to graft.api.Table.StatsSegmentBudget).foreach { i =>
      tbl.write(Seq(1000L + i.toLong).toDF("k")) }
    assert(segs().size <= 2,
      s"passing the budget must fold the segments: ${segs()}")
    val m2 = tbl.aggFromStats("k").getOrElse(sys.error("must serve")).collect()(0)
    assert(m2.getLong(0) == 120L + graft.api.Table.StatsSegmentBudget &&
      m2.getLong(m2.fieldIndex("max_k")) ==
        1000L + graft.api.Table.StatsSegmentBudget)
  }

  test("deleteWhere: COW on a hive-partitioned table keeps the layout and untouched files") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 3000L).map(k => (k, k % 4)).toDF("k", "g")
      .repartitionByRange(4, col("k"))
      .write.partitionBy("g").mode("overwrite").parquet(db2.pathOf("cowp"))
    val tbl = db2.table("cowp")
    tbl.analyzeStats(Seq("k")): Unit
    def files(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(tbl.path))
        .filter(f => !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getAbsolutePath.stripPrefix(tbl.path) -> f.length()).toMap
    }
    val before = files()
    val rc = db2.execute("DELETE FROM cowp WHERE k BETWEEN 100 AND 200")
      .collect()(0).getLong(0)
    assert(rc == 101L)
    val after = files()
    // partition layout preserved (g= dirs still the partitioning)
    assert(new java.io.File(tbl.path).listFiles().filter(_.isDirectory)
      .map(_.getName).forall(_.startsWith("g=")))
    assert(after.keySet.forall(_.startsWith("/g=")),
      s"every data file stays under a g= partition dir: $after")
    // untouched files survive by reference
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.nonEmpty && survivors.forall(f => before(f) == after(f)))
    assert((before.keySet -- after.keySet).nonEmpty &&
      (before.keySet -- after.keySet).size < before.size,
      "a strict subset of files rewrites")
    // content is the model
    assert(tbl.count == 3000L - 101L)
    assert(tbl.df.filter(col("k").between(100, 200)).count() == 0L)
    assert(tbl.df.agg(sum(col("k"))).collect()(0).getLong(0) ==
      (1L to 3000L).sum - (100L to 200L).sum)
    // no sidecar -> the fallback full rewrite still deletes correctly
    val db3 = scratchDb()
    (1L to 50L).toDF("k").write.mode("overwrite").parquet(db3.pathOf("cowf"))
    assert(db3.execute("DELETE FROM cowf WHERE k <= 10")
      .collect()(0).getLong(0) == 10L)
    assert(db3.table("cowf").count == 40L)
  }

  test("UPDATE DML: matched rows get SET applied (typed), NULL where is unmatched, no-sidecar falls back") {
    import spark.implicits._
    val db2 = scratchDb()
    val rows: Seq[(java.lang.Long, Double, String)] =
      (1L to 20L).map(k => (if (k == 7L) null.asInstanceOf[java.lang.Long]
        else java.lang.Long.valueOf(k), k * 1.0, s"v$k"))
    rows.toDF("k", "price", "tag").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("upd"))
    // no sidecar: the fallback full rewrite still updates correctly
    val rc = db2.execute(
      "UPDATE upd SET price = price + 0.5, tag = 'hit' WHERE k <= 5")
      .collect()(0).getLong(0)
    assert(rc == 5L, s"matched-row count: $rc")
    val t = db2.table("upd")
    assert(t.df.filter(col("tag") === "hit").count() == 5L)
    assert(t.df.filter(col("k") === 3L).select("price")
      .collect()(0).getDouble(0) == 3.5)
    // the NULL-k row is UNMATCHED (SQL: null predicate filters out)
    assert(t.df.filter(col("k").isNull).select("tag")
      .collect()(0).getString(0) == "v7")
    // SET value casts back to the column's type: schema never mutates
    db2.execute("UPDATE upd SET price = 2 WHERE k = 10").collect(): Unit
    assert(t.df.schema("price").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(t.df.filter(col("k") === 10L).select("price")
      .collect()(0).getDouble(0) == 2.0)
    // no WHERE: every row matches
    assert(db2.execute("UPDATE upd SET tag = 'all'")
      .collect()(0).getLong(0) == 20L)
    assert(t.df.filter(col("tag") === "all").count() == 20L)
    // unknown column refuses loudly
    intercept[IllegalArgumentException] {
      db2.execute("UPDATE upd SET nosuch = 1 WHERE k = 1") }
    // SET exprs with commas inside calls parse (top-level split)
    db2.execute("UPDATE upd SET tag = concat('a', 'b'), price = 9.0 " +
      "WHERE k = 1").collect(): Unit
    assert(t.df.filter(col("k") === 1L).select("tag", "price").collect()(0)
      .toSeq == Seq("ab", 9.0))
  }

  test("MERGE INTO: upsert + conditional delete through the COW swap; INSERT *") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 100L).map(k => (k, k * 10.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("mt"))
    db2.table("mt").analyzeStats(Seq("k")): Unit
    // source: keys 90..110 — 90..100 match, 101..110 insert; v = -1 marker
    (90L to 110L).map(k => (k, -1.0)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("mtsrc"))
    val rc = db2.execute(
      "MERGE INTO mt USING mtsrc s ON mt.k = s.k " +
        "WHEN MATCHED AND s.k % 2 = 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET v = s.v " +
        "WHEN NOT MATCHED THEN INSERT *").collect()(0).getLong(0)
    // matched 90..100: evens 90,92..100 deleted (6), odds updated (5);
    // 101..110 inserted (10)
    assert(rc == 21L, s"affected-row count: $rc")
    val t = db2.table("mt")
    assert(t.count == 100L - 6L + 10L)
    assert(t.df.filter(col("v") === -1.0).count() == 15L) // 5 upd + 10 ins
    assert(t.df.filter(col("k").between(90, 100) && col("k") % 2 === 0)
      .count() == 0L, "even matched keys must be deleted")
    assert(t.df.filter(col("k") === 91L).select("v")
      .collect()(0).getDouble(0) == -1.0, "odd matched keys must update")
    assert(t.df.filter(col("k") === 50L).select("v")
      .collect()(0).getDouble(0) == 500.0, "unmatched rows untouched")
  }

  test("MERGE INTO: cardinality violation aborts before any effect; null source key inserts") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("mc"))
    // duplicate source key 5 + an insertable key: the ANSI check must
    // throw and leave the table untouched (no insert landed either,
    // even though the insert phase is computed before the swap)
    val err = intercept[IllegalStateException] {
      db2.execute("MERGE INTO mc USING (SELECT 5 AS k UNION ALL " +
        "SELECT 5 UNION ALL SELECT 99) s ON mc.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = 0 " +
        "WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)").collect()
    }
    assert(err.getMessage.contains("cardinality"))
    val t = db2.table("mc")
    assert(t.count == 10L, "a failed MERGE must have zero effect")
    assert(t.df.agg(sum(col("v"))).collect()(0).getDouble(0) == 55.0)
    // a NULL source key never matches (SQL equi-join) — the row flows
    // to NOT MATCHED and inserts
    val rc = db2.execute("MERGE INTO mc USING (SELECT CAST(NULL AS BIGINT)" +
      " AS k) s ON mc.k = s.k " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED THEN INSERT (v) VALUES (42.0)")
      .collect()(0).getLong(0)
    assert(rc == 1L)
    assert(t.df.filter(col("k").isNull && col("v") === 42.0).count() == 1L)
  }

  test("MERGE INTO: clause grammar — CASE in SET, NOT MATCHED AND, first-match-wins, errors") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 6L).map(k => (k, "old")).toDF("k", "tag").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("mg"))
    // CASE…END inside a SET expression survives the WHEN/THEN clause
    // splitting (the scanner tracks CASE depth); two NOT MATCHED
    // clauses apply first-match-wins
    val rc = db2.execute(
      "MERGE INTO mg USING (SELECT 4 AS k UNION ALL SELECT 20 " +
        "UNION ALL SELECT 30) s ON mg.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET " +
        "tag = CASE WHEN s.k > 3 THEN 'big' ELSE 'small' END " +
        "WHEN NOT MATCHED AND s.k < 25 THEN INSERT (k, tag) " +
        "VALUES (s.k, 'low') " +
        "WHEN NOT MATCHED THEN INSERT (k, tag) VALUES (s.k, 'high')")
      .collect()(0).getLong(0)
    assert(rc == 3L)
    val t = db2.table("mg")
    assert(t.df.filter(col("k") === 4L).select("tag")
      .collect()(0).getString(0) == "big")
    assert(t.df.filter(col("k") === 20L).select("tag")
      .collect()(0).getString(0) == "low")
    assert(t.df.filter(col("k") === 30L).select("tag")
      .collect()(0).getString(0) == "high")
    // grammar errors are loud: subquery without alias, MATCHED INSERT,
    // unknown SET column, unknown target
    intercept[IllegalArgumentException] { db2.execute(
      "MERGE INTO mg USING (SELECT 1 AS k) ON mg.k = k " +
        "WHEN MATCHED THEN DELETE") }
    intercept[IllegalArgumentException] { db2.execute(
      "MERGE INTO mg USING (SELECT 1 AS k) s ON mg.k = s.k " +
        "WHEN MATCHED THEN INSERT (k) VALUES (s.k)") }
    intercept[IllegalArgumentException] { db2.execute(
      "MERGE INTO mg USING (SELECT 1 AS k) s ON mg.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET nosuch = 1") }
    intercept[IllegalArgumentException] { db2.execute(
      "MERGE INTO nosuch_table USING (SELECT 1 AS k) s ON 1 = 1 " +
        "WHEN MATCHED THEN DELETE") }
    // INSERT * needs every target column in the source
    intercept[IllegalArgumentException] { db2.execute(
      "MERGE INTO mg USING (SELECT 77 AS k) s ON mg.k = s.k " +
        "WHEN NOT MATCHED THEN INSERT *").collect() }
  }

  test("MERGE INTO: sparse gap keys touch nothing; a point key rewrites only its file") {
    import spark.implicits._
    val db2 = scratchDb()
    // two band-disjoint files with a gap between them
    (1L to 100L).map(k => (k, 0.0)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("mp"))
    (201L to 300L).map(k => (k, 0.0)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(db2.pathOf("mp"))
    val tbl = db2.table("mp")
    tbl.analyzeStats(Seq("k")): Unit
    def files(): Map[String, Long] =
      new java.io.File(tbl.path).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .map(f => f.getName -> f.length()).toMap
    val before = files()
    assert(before.size == 2)
    // keys 150/350 sit inside the [min,max] envelope but in band gaps:
    // the per-point IN pruning proves no match without reading data
    val rc0 = db2.execute("MERGE INTO mp USING (SELECT 150 AS k UNION ALL " +
      "SELECT 350) s ON mp.k = s.k WHEN MATCHED THEN UPDATE SET v = 1")
      .collect()(0).getLong(0)
    assert(rc0 == 0L && files() == before,
      "gap keys must not touch any file")
    // one point key in the second file's band: only that file rewrites
    val rc = db2.execute("MERGE INTO mp USING (SELECT 250 AS k) s " +
      "ON mp.k = s.k WHEN MATCHED THEN UPDATE SET v = 1")
      .collect()(0).getLong(0)
    assert(rc == 1L)
    val after = files()
    val survivors = before.keySet.intersect(after.keySet)
    assert(survivors.size == 1 &&
      survivors.forall(f => before(f) == after(f)),
      s"exactly the un-hit file survives by reference: $before -> $after")
    assert(tbl.df.filter(col("v") === 1.0).count() == 1L)
  }

  test("MERGE INTO: a top-level OR in ON disables band pruning (rows matching only through the other branch still update)") {
    import spark.implicits._
    val db2 = scratchDb()
    // two band-disjoint files; the OR's right branch matches into the
    // second file even though the equi-key points at the first — band
    // pruning on `mp2.k = s.k` alone would silently skip that match
    (1L to 100L).map(k => (k, 0.0)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("mp2"))
    (201L to 300L).map(k => (k, 0.0)).toDF("k", "v").coalesce(1)
      .write.mode("append").parquet(db2.pathOf("mp2"))
    val tbl = db2.table("mp2")
    tbl.analyzeStats(Seq("k")): Unit
    val rc = db2.execute("MERGE INTO mp2 USING (SELECT 50 AS k, " +
      "250 AS alt) s ON mp2.k = s.k OR mp2.k = s.alt " +
      "WHEN MATCHED THEN UPDATE SET v = 1")
      .collect()(0).getLong(0)
    assert(rc == 2L, s"both branches must match, got $rc")
    assert(tbl.df.filter(col("v") === 1.0).select("k").collect()
      .map(_.getLong(0)).toSet == Set(50L, 250L),
      "the OR's second branch must update the second file's row")
    // and NOT MATCHED must not re-insert a row that matched through
    // the OR branch band pruning would have missed
    val rc2 = db2.execute("MERGE INTO mp2 USING (SELECT 60 AS k, " +
      "260 AS alt) s ON mp2.k = s.k OR mp2.k = s.alt " +
      "WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, 9)")
      .collect()(0).getLong(0)
    assert(rc2 == 0L, "a source row matching through either branch is MATCHED")
    assert(tbl.count == 200L)
  }

  test("unsupported CREATE TABLE shapes refuse instead of leaking into the session catalog") {
    val db2 = scratchDb()
    // typed CTAS, USING clause, OR REPLACE with a column list: all
    // unsupported — each must throw, and none may land in Spark's
    // session catalog (the db.tables-invisible divergence c37 closed)
    Seq(
      "CREATE TABLE ctg1 (a INT) AS SELECT 1 AS a",
      "CREATE TABLE ctg2 USING parquet AS SELECT 1 AS a",
      "CREATE OR REPLACE TABLE ctg3 (a INT, b STRING)"
    ).foreach { stmt =>
      val e = intercept[IllegalArgumentException] { db2.execute(stmt) }
      assert(e.getMessage.contains("CREATE TABLE"), s"loud refuse: $stmt")
    }
    Seq("ctg1", "ctg2", "ctg3").foreach { t =>
      assert(!db2.spark.catalog.tableExists(t),
        s"$t must not leak into the session catalog")
      assert(!db2.tables.contains(t))
    }
  }

  test("appends into a hive-partitioned table keep the partition layout (write / INSERT / MERGE insert)") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 40L).map(k => (k, k % 4)).toDF("k", "g")
      .write.partitionBy("g").mode("overwrite").parquet(db2.pathOf("pa"))
    val tbl = db2.table("pa")
    def rootFlatFiles(): Seq[String] =
      new java.io.File(tbl.path).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).map(_.getName)
    // Table.write append
    tbl.write(Seq((100L, 1L)).toDF("k", "g"))
    // SQL INSERT INTO
    db2.execute("INSERT INTO pa VALUES (101, 2)").collect(): Unit
    // MERGE insert arm
    db2.execute("MERGE INTO pa USING (SELECT CAST(102 AS BIGINT) AS k, " +
      "CAST(3 AS BIGINT) AS g) s ON pa.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT *").collect(): Unit
    assert(rootFlatFiles().isEmpty,
      s"appends must land under g= dirs, found flat: ${rootFlatFiles()}")
    assert(tbl.count == 43L)
    assert(tbl.df.filter(col("k") >= 100L)
      .select(col("k"), col("g").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((100L, 1L), (101L, 2L), (102L, 3L)),
      "appended rows read back with their partition values")
  }

  test("SQL DDL binds to the warehouse: CTAS, typed CREATE, DROP cleans sidecars") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 30L).map(k => (k, s"n$k")).toDF("k", "nm").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("dsrc"))
    // idempotence across JVM runs: the scratch dir persists
    db2.execute("DROP TABLE IF EXISTS dt").collect(): Unit
    db2.execute("DROP TABLE IF EXISTS dty").collect(): Unit
    db2.execute("DROP VIEW IF EXISTS dv").collect(): Unit
    // CTAS visible to db.tables; rowcount = rows stored
    assert(db2.execute("CREATE TABLE dt AS SELECT * FROM dsrc WHERE k <= 10")
      .collect()(0).getLong(0) == 10L)
    assert(db2.tables.contains("dt"))
    assert(db2.table("dt").count == 10L)
    // typed CREATE parses Spark DDL incl. DECIMAL(p,s); nested commas ok
    db2.execute("CREATE TABLE dty (a BIGINT, b DECIMAL(10,2), " +
      "c ARRAY<STRING>)").collect(): Unit
    val sch = db2.table("dty").df.schema
    assert(sch("b").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2), s"got $sch")
    assert(db2.table("dty").count == 0L)
    // IF NOT EXISTS no-ops on the typed form too
    db2.execute("CREATE TABLE IF NOT EXISTS dty (x INT)").collect(): Unit
    assert(db2.table("dty").df.columns.toSeq == Seq("a", "b", "c"))
    // DROP TABLE kills the stats sidecar with the table: a fresh table
    // reusing the name must not inherit stale skipping metadata
    db2.table("dt").analyzeStats(Seq("k")): Unit
    assert(new java.io.File(db2.pathOf("dt") + ".stats").exists())
    db2.execute("DROP TABLE dt").collect(): Unit
    assert(!new java.io.File(db2.pathOf("dt") + ".stats").exists(),
      "DROP TABLE must remove the stats sidecar")
    assert(!db2.tables.contains("dt"))
    // views: CREATE errors on existing without OR REPLACE, OR REPLACE
    // swaps, DROP VIEW IF EXISTS no-ops
    db2.execute("CREATE VIEW dv AS SELECT k FROM dsrc WHERE k = 1")
      .collect(): Unit
    intercept[IllegalArgumentException] { db2.execute(
      "CREATE VIEW dv AS SELECT k FROM dsrc") }
    db2.execute("CREATE OR REPLACE VIEW dv AS SELECT k FROM dsrc " +
      "WHERE k <= 3").collect(): Unit
    assert(db2.execute("SELECT count(*) AS n FROM dv")
      .collect()(0).getLong(0) == 3L)
    db2.execute("DROP VIEW dv").collect(): Unit
    db2.execute("DROP VIEW IF EXISTS dv").collect(): Unit
    intercept[IllegalArgumentException] { db2.execute("DROP VIEW dv") }
    // INSERT OVERWRITE: whole-content replace, schema kept, VALUES form
    // works, arity mismatch refuses, self-referencing SELECT reads the
    // originals through the staged swap
    assert(db2.execute("INSERT OVERWRITE dsrc SELECT k + 100, nm " +
      "FROM dsrc WHERE k <= 3").collect()(0).getLong(0) == 3L)
    assert(db2.table("dsrc").count == 3L)
    assert(db2.table("dsrc").df.agg(sum(col("k"))).collect()(0)
      .getLong(0) == 101L + 102L + 103L)
    assert(db2.execute("INSERT OVERWRITE TABLE dsrc VALUES (1, 'one')")
      .collect()(0).getLong(0) == 1L)
    assert(db2.table("dsrc").count == 1L)
    intercept[IllegalArgumentException] { db2.execute(
      "INSERT OVERWRITE dsrc SELECT 1") }
    intercept[IllegalArgumentException] { db2.execute(
      "INSERT OVERWRITE nosuch SELECT 1, 'x'") }
  }

  test("MERGE string-key discovery prunes per-point where the envelope spans everything") {
    import spark.implicits._
    val db2 = scratchDb()
    // four band-disjoint files on a string key
    Seq("a", "g", "m", "t").zipWithIndex.foreach { case (p, i) =>
      (1 to 50).map(n => (f"$p$n%03d", 0L)).toDF("doc_id", "v")
        .coalesce(1).write.mode(if (i == 0) "overwrite" else "append")
        .parquet(db2.pathOf("msk"))
    }
    val tbl = db2.table("msk")
    tbl.analyzeStats(Seq("doc_id")): Unit
    val all = tbl.currentDataFiles()
    assert(all.size == 4)
    // scattered: first and last band — the envelope [a005, t005] spans
    // every file; per-point IN pruning hits exactly two
    val src = Seq(("a005", 1L), ("t005", 1L)).toDF("k", "nv")
    val cands = tbl.mergeCandidateFiles(src, "s", "t",
      "t.doc_id = s.k", all)
    assert(cands.size == 2, s"per-point: ${cands.size} candidates")
    // keys in the lexicographic gaps prove no match at all
    val gap = Seq(("c001", 1L), ("p001", 1L)).toDF("k", "nv")
    assert(tbl.mergeCandidateFiles(gap, "s", "t",
      "t.doc_id = s.k", all).isEmpty, "gap keys hit no band")
    // a quoted key must not break the literal (escaping)
    val quo = Seq(("o'brien", 1L)).toDF("k", "nv")
    assert(tbl.mergeCandidateFiles(quo, "s", "t",
      "t.doc_id = s.k", all).isEmpty)
    // > MergeInKeyMax distinct keys: envelope fallback still prunes to
    // the files the [min,max] range intersects
    val many = (1 to 300).map(n => (f"a$n%03d", 1L)).toDF("k", "nv")
    val env = tbl.mergeCandidateFiles(many, "s", "t", "t.doc_id = s.k", all)
    assert(env.size == 1, s"envelope over a-prefix keys: ${env.size}")
    // and the real MERGE over the scattered source updates both rows
    src.createOrReplaceTempView("msk_src")
    val rc = db2.execute("MERGE INTO msk t USING msk_src s " +
      "ON t.doc_id = s.k WHEN MATCHED THEN UPDATE SET v = s.nv")
      .collect()(0).getLong(0)
    assert(rc == 2L)
    assert(tbl.df.filter(col("v") === 1L).select("doc_id").collect()
      .map(_.getString(0)).toSet == Set("a005", "t005"))
  }

  test("MERGE inserts promote under the rewrite's swap token: one commit point, partition layout kept") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 40L).map(k => (k, k % 4)).toDF("k", "g")
      .write.partitionBy("g").mode("overwrite").parquet(db2.pathOf("ma"))
    val tbl = db2.table("ma")
    tbl.analyzeStats(Seq("k")): Unit
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty)
          .toSeq.flatMap(walk)
        else if (!f.getName.startsWith("_") && !f.getName.startsWith("."))
          Seq(f) else Nil
      walk(new java.io.File(tbl.path)).map(_.getName).toSet
    }
    val before = dataFiles()
    val rc = db2.execute("MERGE INTO ma USING (SELECT CAST(4 AS BIGINT) " +
      "AS k, CAST(0 AS BIGINT) AS g UNION ALL SELECT 100, 1 " +
      "UNION ALL SELECT 101, 2) s ON ma.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET k = 400 " +
      "WHEN NOT MATCHED THEN INSERT *").collect()(0).getLong(0)
    assert(rc == 3L)
    // every new file — rewrite AND inserts — carries ONE swap token:
    // the backup drop commits the whole statement; a crash before it
    // has vacuum un-promote inserts together with the rewrite
    val fresh = dataFiles() -- before
    assert(fresh.nonEmpty && fresh.forall(_.startsWith("cowdel_")),
      s"all new files must be token-promoted: $fresh")
    val tokens = fresh.map(_.split("_")(1))
    assert(tokens.size == 1,
      s"rewrite and inserts must share one swap token: $tokens")
    // committed clean: no stage/backup residue beside the table
    val parent = new java.io.File(tbl.path).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.contains("ma.cowdel_bak_") ||
        f.getName.endsWith(".stage_tmp")),
      "the swap must commit with no residue")
    // inserts landed under their hive partition dirs, not flat
    assert(!new java.io.File(tbl.path).listFiles().exists(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith(".")),
      "appends must land under g= dirs")
    assert(tbl.count == 42L)
    assert(tbl.df.filter(col("k") >= 100L).select(col("k"),
      col("g").cast("long")).collect().map(r => (r.getLong(0),
      r.getLong(1))).toSet == Set((100L, 1L), (101L, 2L), (400L, 0L)))
  }

  test("ALTER TABLE: metadata-only ADD COLUMN, rewrite DROP/RENAME, DML over mixed-schema files") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 100L).map(k => (k, s"n$k")).toDF("k", "name")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("alt"))
    val tbl = db2.table("alt")
    new java.io.File(tbl.path + ".properties").delete(): Unit // stale runs
    tbl.analyzeStats(Seq("k")): Unit
    def files(): Map[String, Long] =
      new java.io.File(tbl.path).listFiles().toSeq
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith(".")).map(f => f.getName -> f.length()).toMap
    val before = files()
    // ADD COLUMN: zero data churn, typed NULL backfill
    db2.execute("ALTER TABLE alt ADD COLUMN score DOUBLE").collect(): Unit
    assert(files() == before, "ADD COLUMN must touch no data file")
    val d = db2.table("alt").df
    assert(d.schema("score").dataType ==
      org.apache.spark.sql.types.DoubleType)
    assert(d.filter(col("score").isNull).count() == 100L)
    // duplicate refuses; IF NOT EXISTS no-ops
    intercept[IllegalArgumentException] {
      db2.execute("ALTER TABLE alt ADD COLUMN score DOUBLE") }
    db2.execute("ALTER TABLE alt ADD COLUMN IF NOT EXISTS score DOUBLE")
      .collect(): Unit
    // appends carry the column physically; old files keep null-filling
    db2.execute("INSERT INTO alt VALUES (300, 'x', 1.5)").collect(): Unit
    assert(db2.table("alt").df.filter(col("score").isNotNull).count() == 1L)
    // COW UPDATE over pre-ALTER files must carry the added column
    val rc = db2.execute("UPDATE alt SET score = 9.9 WHERE k BETWEEN 5 AND 6")
      .collect()(0).getLong(0)
    assert(rc == 2L)
    val dd = db2.table("alt").df
    assert(dd.filter(col("score") === 9.9).count() == 2L)
    assert(dd.columns.toSeq.sorted == Seq("k", "name", "score"),
      "the rewrite must not drop or duplicate columns")
    assert(dd.count() == 101L)
    // RENAME COLUMN: physical rewrite, sidecar retargets to the new name
    db2.execute("ALTER TABLE alt RENAME COLUMN k TO id").collect(): Unit
    val dr = db2.table("alt").df
    assert(dr.columns.contains("id") && !dr.columns.contains("k"))
    assert(db2.table("alt").aggFromStats("id").isDefined,
      "skipping sidecar must keep serving under the renamed column")
    assert(dr.agg(sum(col("id"))).collect()(0).getLong(0) ==
      (1L to 100L).sum + 300L)
    // DROP COLUMN: physically gone
    db2.execute("ALTER TABLE alt DROP COLUMN name").collect(): Unit
    assert(db2.table("alt").df.columns.toSeq.sorted == Seq("id", "score"))
    intercept[IllegalArgumentException] {
      db2.execute("ALTER TABLE alt DROP COLUMN nosuch") }
    db2.execute("ALTER TABLE alt DROP COLUMN IF EXISTS nosuch")
      .collect(): Unit
    // unsupported ALTER shapes refuse loudly
    intercept[IllegalArgumentException] {
      db2.execute("ALTER TABLE alt SET TBLPROPERTIES ('a'='b')") }
    intercept[IllegalArgumentException] {
      db2.execute("ALTER TABLE nosuch ADD COLUMN x INT") }
  }

  test("ALTER ADD then compact: partitioned leaf merge keeps the added column's values") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 40L).map(k => (k, k % 2)).toDF("k", "g")
      .repartition(4).write.partitionBy("g").mode("overwrite")
      .parquet(db2.pathOf("altc"))
    val tbl = db2.table("altc")
    new java.io.File(tbl.path + ".properties").delete(): Unit
    db2.execute("ALTER TABLE altc ADD COLUMN tag STRING").collect(): Unit
    // post-ALTER append physically carries `tag` into each partition
    db2.execute("INSERT INTO altc VALUES (100, 'hot', 0), (101, 'hot', 1)")
      .collect(): Unit
    assert(db2.table("altc").df.filter(col("tag") === "hot").count() == 2L)
    tbl.compact(): Unit
    // the leaf merges read mixed pre/post-ALTER files under the
    // declared schema — a footer-picked read would silently drop `tag`
    val after = db2.table("altc").df
    assert(after.count() == 42L)
    assert(after.filter(col("tag") === "hot").count() == 2L,
      "compaction must not lose post-ALTER column data")
    assert(after.filter(col("tag").isNull).count() == 40L)
  }

  test("optimistic commit: concurrent DML writers refuse instead of racing the COW swap") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 200L).map(k => (k, 0L)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("occ"))
    val tbl = db2.table("occ")
    tbl.analyzeStats(Seq("k")): Unit
    val p = tbl.path
    // the numbered scratch root persists across suite runs: clear any
    // previous run's version sidecar (overwrite replaces only the data)
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(api.Table.versionDirOf(p)))
    // tracking activates on the first DML commit and bumps per commit
    assert(api.Table.versionOf(p) == 0L)
    db2.execute("DELETE FROM occ WHERE k BETWEEN 10 AND 12").collect(): Unit
    assert(api.Table.versionOf(p) == 1L, "COW delete bumps the version")
    db2.execute("UPDATE occ SET v = 1 WHERE k BETWEEN 60 AND 62")
      .collect(): Unit
    assert(api.Table.versionOf(p) == 2L, "COW update bumps the version")
    // writer A: lists files at v2; writer B commits first (v3); A's
    // promote must refuse LOUDLY before touching any live file
    val vA = api.Table.versionOf(p)
    val listedA = tbl.currentDataFiles()
    // A's replacement is already materialized (literal rows): the race
    // hits at COMMIT time, which is exactly what the CAS must catch
    val replA = (500L to 510L).map(k => (k, 7L)).toDF("k", "v")
    db2.execute("DELETE FROM occ WHERE k BETWEEN 110 AND 112")
      .collect(): Unit // writer B wins
    val before = tbl.df.orderBy("k").collect().toSeq
    val err = intercept[IllegalStateException] {
      tbl.cowSwapFiles(listedA, replA, None, Some(vA))
    }
    assert(err.getMessage.contains("concurrent writer"),
      s"loud refusal: ${err.getMessage}")
    // the refused commit left the table untouched and no residue
    spark.catalog.refreshByPath(p)
    assert(tbl.df.orderBy("k").collect().toSeq == before,
      "the loser must not mix epochs")
    val parent = new java.io.File(p).getParentFile
    assert(!parent.listFiles().exists(f =>
      f.getName.contains("occ.parquet.cowdel_bak_") ||
        f.getName == "occ.parquet.stage_tmp"),
      "refused swap leaves no stage/backup residue")
    // the stale CAS also refuses directly, and a fresh retry succeeds
    intercept[IllegalStateException] {
      api.Table.casBumpVersion(p, vA, "stale retry")
    }
    db2.execute("DELETE FROM occ WHERE k BETWEEN 120 AND 121")
      .collect(): Unit
    assert(api.Table.versionOf(p) == vA + 2,
      "a re-run against the fresh state commits")
    // non-DML rewrites on a tracked table invalidate in-flight writers
    val vBefore = api.Table.versionOf(p)
    tbl.compact()
    assert(api.Table.versionOf(p) > vBefore,
      "compaction must bump a tracked table's version")
    // DROP cleans the version sidecar with the table
    db2.dropTable("occ")
    assert(!new java.io.File(api.Table.versionDirOf(p)).exists())
  }

  test("DML-surviving time travel: retained COW swaps serve pre-DML versions until the ttl reclaims them") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 200L).map(k => (k, k * 10.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("ret"))
    val tbl = db2.table("ret")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    wipe(new java.io.File(tbl.path + ".properties"))
    new java.io.File(tbl.path).getParentFile.listFiles()
      .filter(_.getName.startsWith("ret.parquet.retain_")).foreach(wipe)
    tbl.analyzeStats(Seq("k")): Unit
    tbl.setCowRetention(true)
    // COW DELETE auto-pins the pre-DML state and retires, not deletes
    val rc = db2.execute("DELETE FROM ret WHERE k BETWEEN 10 AND 20")
      .collect()(0).getLong(0)
    assert(rc == 11L)
    val v1 = tbl.versions.head
    assert(tbl.readVersion(v1).count() == 200L,
      "the pre-DELETE version must serve from the retention area")
    // a second DML layers another version; both still serve
    db2.execute("UPDATE ret SET v = 0 WHERE k BETWEEN 100 AND 110")
      .collect(): Unit
    val v2 = tbl.versions.last
    assert(v2 > v1)
    assert(tbl.readVersion(v1).agg(sum(col("v"))).collect()(0)
      .getDouble(0) == (1L to 200L).map(_ * 10.0).sum,
      "v1 = the untouched original")
    assert(tbl.readVersion(v2).count() == 189L,
      "v2 = post-DELETE, pre-UPDATE")
    assert(tbl.readVersion(v2).filter(col("v") === 0.0).count() == 0L)
    assert(tbl.count == 189L)
    // vacuum honors the ttl: fresh history survives, expired reclaims
    val rep0 = db2.vacuum()
    assert(rep0.getOrElse("retain_expired", 0) == 0,
      s"fresh retention must survive vacuum: $rep0")
    assert(tbl.readVersion(v1).count() == 200L)
    // expire: ttl=0 property, vacuum reclaims, version fails loudly.
    // (Written through the Fs seam — a raw FileWriter would break the
    // Hadoop-local CRC sidecar and the engine's read of the property.)
    val propsP = api.Fs.path(tbl.path + ".properties")
    val props = new java.util.Properties()
    props.load(new java.io.StringReader(api.Fs.readUtf8(propsP)))
    props.setProperty("graft.retain.ttl.ms", "0")
    val sw = new java.io.StringWriter(); props.store(sw, null)
    api.Fs.writeUtf8(propsP, sw.toString)
    Thread.sleep(5)
    val rep1 = db2.vacuum()
    assert(rep1.getOrElse("retain_expired", 0) >= 2,
      s"expired retention dirs must reclaim: $rep1")
    // vacuum reclaims expired history coherently: the retain dirs go,
    // and their now-unreachable manifests go with them (same pass or
    // the next, depending on listing order) — either way the read
    // fails loudly, never serves partial history
    val err = intercept[IllegalArgumentException] {
      tbl.readVersion(v1).count() }
    assert(err.getMessage.contains("retention") ||
      err.getMessage.contains("no snapshot"),
      s"post-reclaim read must fail loudly: ${err.getMessage}")
    // default-off contract unchanged: a fresh table's COW delete
    // leaves no retention residue (bytes gone at commit)
    (1L to 50L).map(k => (k, 0L)).toDF("k", "v")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("ret2"))
    val t2 = db2.table("ret2")
    t2.analyzeStats(Seq("k")): Unit
    db2.execute("DELETE FROM ret2 WHERE k <= 5").collect(): Unit
    assert(!new java.io.File(t2.path).getParentFile.listFiles()
      .exists(_.getName.startsWith("ret2.parquet.retain_")),
      "retention is opt-in: default DML deletes its backup at commit")
  }

  test("vacuum rolls back a crashed COW delete: promoted files un-promoted, originals restored") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 100L).map(k => (k, s"v$k")).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(db2.pathOf("cowr"))
    val tbl = db2.table("cowr")
    val orig = new java.io.File(tbl.path).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")).head
    val origBytes = java.nio.file.Files.readAllBytes(orig.toPath)
    // fabricate the post-crash state: original hopped to the backup dir,
    // a token-marked replacement promoted into the live dir, commit
    // (backup drop) never reached
    val token = "ab12cd34ef56"
    val bak = new java.io.File(tbl.path + ".cowdel_bak_" + token)
    bak.mkdirs()
    java.nio.file.Files.move(orig.toPath,
      new java.io.File(bak, orig.getName).toPath)
    (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(tbl.path + ".stage_tmp")
    val stagedPart = new java.io.File(tbl.path + ".stage_tmp").listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.copy(stagedPart.toPath,
      new java.io.File(tbl.path, s"cowdel_${token}_${stagedPart.getName}").toPath)
    val report = db2.vacuum()
    assert(report("recovered") >= 1, s"rollback must count as recovery: $report")
    assert(!bak.exists, "the backup dir must be consumed")
    // the table is byte-identically the original
    val restored = new java.io.File(tbl.path).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith("."))
    assert(restored.map(_.getName).toSeq == Seq(orig.getName),
      s"exactly the original file: ${restored.map(_.getName).toSeq}")
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(restored.head.toPath), origBytes))
    spark.catalog.refreshByPath(tbl.path)
    assert(tbl.count == 100L)
  }

  test("r17: retention survives the full-replace fallback paths (sidecar-less DELETE, ALTER DROP, TRUNCATE)") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("retf"))
    val tbl = db2.table("retf")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    wipe(new java.io.File(tbl.path + ".properties"))
    wipe(new java.io.File(api.Table.versionDirOf(tbl.path)))
    new java.io.File(tbl.path).getParentFile.listFiles()
      .filter(_.getName.startsWith("retf.parquet.retain_")).foreach(wipe)
    tbl.setCowRetention(true)
    // NO stats sidecar: this predicate DELETE takes the full-table
    // replace fallback — before r17 it deleted the pre-DML state
    // unconditionally and broke every retained version
    val rc = db2.execute("DELETE FROM retf WHERE k <= 10")
      .collect()(0).getLong(0)
    assert(rc == 10L)
    val v1 = tbl.versions.head
    assert(tbl.readVersion(v1).count() == 100L,
      "pre-DELETE state must serve from the retention area after a " +
        "fallback full replace")
    // ALTER DROP COLUMN is a staged full rewrite: history still serves
    db2.execute("ALTER TABLE retf DROP COLUMN v").collect(): Unit
    assert(db2.table("retf").df.columns.toSeq == Seq("k"))
    val v2 = tbl.versions.sorted.apply(1)
    assert(tbl.readVersion(v2).columns.toSeq == Seq("k", "v"),
      "the pre-ALTER version serves with its original schema")
    assert(tbl.readVersion(v2).count() == 90L)
    // TRUNCATE retires the whole pre-truncate state
    val rcT = db2.execute("TRUNCATE TABLE retf").collect()(0).getLong(0)
    assert(rcT == 90L)
    assert(tbl.count == 0L)
    val v3 = tbl.versions.sorted.last
    assert(tbl.readVersion(v3).count() == 90L,
      "pre-TRUNCATE state must survive on a retention table")
    assert(tbl.readVersion(v1).count() == 100L,
      "all layers of history stay resolvable")
  }

  test("r17: appends bump the tracked version so a racing full-replace CAS refuses") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 50L).toDF("k").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("aocc"))
    val tbl = db2.table("aocc")
    val p = tbl.path
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(api.Table.versionDirOf(p)))
    // appends stay coordination-free until the first DML activates
    // tracking (a never-DML'd ingest table pays nothing)
    tbl.write((100L to 102L).toDF("k"))
    assert(api.Table.versionOf(p) == 0L,
      "no version sidecar before tracking activates")
    db2.execute("DELETE FROM aocc WHERE k = 1").collect(): Unit
    val v1 = api.Table.versionOf(p)
    assert(v1 >= 1L)
    // a full-replace writer lists the table here (captures v1) …
    tbl.write(Seq(200L).toDF("k"))
    assert(api.Table.versionOf(p) == v1 + 1,
      "a committed append must bump the tracked version")
    // … so its commit CAS refuses instead of destroying the append
    intercept[IllegalStateException] {
      api.Table.casBumpVersion(p, v1, "full replace racing an append")
    }
    assert(tbl.df.filter(col("k") === 200L).count() == 1L)
  }

  test("r17: ALTER ADD COLUMN accepts comma-bearing DDL types; multi-column capture refuses") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 5L).toDF("k")
      .write.mode("overwrite").parquet(db2.pathOf("altt"))
    val tbl = db2.table("altt")
    new java.io.File(tbl.path + ".properties").delete(): Unit
    db2.execute("ALTER TABLE altt ADD COLUMN price DECIMAL(10,2)")
      .collect(): Unit
    val sch1 = db2.table("altt").df.schema
    assert(sch1("price").dataType ==
      org.apache.spark.sql.types.DecimalType(10, 2))
    assert(db2.table("altt").df.filter(col("price").isNull).count() == 5L,
      "typed NULL backfill on pre-ALTER files")
    db2.execute("ALTER TABLE altt ADD COLUMN meta STRUCT<a: INT, b: STRING>")
      .collect(): Unit
    assert(db2.table("altt").df.schema("meta").dataType
      .isInstanceOf[org.apache.spark.sql.types.StructType])
    // a capture parsing as two columns refuses loudly (no silent drop)
    val err = intercept[IllegalArgumentException] {
      db2.execute("ALTER TABLE altt ADD COLUMN x INT, y STRING") }
    assert(err.getMessage.contains("one column per statement"),
      s"got: ${err.getMessage}")
  }

  test("r17: a refused COW commit leaves no spurious version manifest (retention mode)") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 80L).map(k => (k, k * 1.0)).toDF("k", "v")
      .repartitionByRange(2, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("retm"))
    val tbl = db2.table("retm")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    wipe(new java.io.File(tbl.path + ".properties"))
    wipe(new java.io.File(api.Table.versionDirOf(tbl.path)))
    new java.io.File(tbl.path).getParentFile.listFiles()
      .filter(_.getName.startsWith("retm.parquet.retain_")).foreach(wipe)
    tbl.analyzeStats(Seq("k")): Unit
    tbl.setCowRetention(true)
    db2.execute("DELETE FROM retm WHERE k <= 3").collect(): Unit
    val manifestsBefore = tbl.versions
    val vLive = api.Table.versionOf(tbl.path)
    val listed = tbl.currentDataFiles()
    intercept[IllegalStateException] {
      // stale expected version: the CAS refuses — and must do so
      // BEFORE the retention snapshot fires
      tbl.cowSwapFiles(listed, tbl.df.limit(0), None, Some(vLive - 1))
    }
    assert(tbl.versions == manifestsBefore,
      "a lost-race commit must not write a version manifest")
  }

  test("r17: manifest-pinned reads serve the pre-swap version across a mid-swap window") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 200L).map(k => (k, k * 3.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("pin"))
    val tbl = db2.table("pin")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    wipe(new java.io.File(tbl.path + ".properties"))
    wipe(new java.io.File(api.Table.versionDirOf(tbl.path)))
    new java.io.File(tbl.path).getParentFile.listFiles()
      .filter(f => f.getName.startsWith("pin.parquet.retain_") ||
        f.getName.startsWith("pin.parquet.cowdel_bak_")).foreach(wipe)
    tbl.analyzeStats(Seq("k")): Unit
    tbl.setPinnedReads(true)
    assert(tbl.versions.nonEmpty, "enabling pinned reads publishes v1")
    // committed façade mutations advance the pinned view
    tbl.write((201L to 250L).map(k => (k, k * 3.0)).toDF("k", "v"))
    assert(db2.table("pin").count == 250L, "append publishes")
    val rc = db2.execute("DELETE FROM pin WHERE k BETWEEN 10 AND 20")
      .collect()(0).getLong(0)
    assert(rc == 11L)
    assert(db2.table("pin").count == 239L, "COW swap publishes")
    val keySum = db2.table("pin").df.agg(sum(col("k"))).collect()(0).getLong(0)
    // CRASH-INJECT a mid-swap state from a concurrent writer: one live
    // file hops to the swap's backup dir, an uncommitted token-marked
    // replacement sits in the live tree, commit (backup drop) never
    // reached
    val token = "feedc0de1234"
    val live = new java.io.File(tbl.path).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet") &&
        !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val victim = live.minBy(_.getName)
    val bak = new java.io.File(tbl.path + ".cowdel_bak_" + token)
    bak.mkdirs()
    java.nio.file.Files.move(victim.toPath,
      new java.io.File(bak, victim.getName).toPath)
    val donor = live.filterNot(_ == victim).head
    java.nio.file.Files.copy(donor.toPath,
      new java.io.File(tbl.path, s"cowdel_${token}_dup.parquet").toPath)
    spark.catalog.refreshByPath(tbl.path)
    // a pinned reader mid-swap serves the PRE-SWAP version exactly:
    // the manifest's files resolve through the backup dir, the
    // uncommitted token file is invisible (not in the manifest)
    assert(db2.table("pin").count == 239L,
      "mid-swap pinned read must serve the pre-swap version exactly")
    assert(db2.table("pin").df.agg(sum(col("k"))).collect()(0)
      .getLong(0) == keySum, "pre-swap values, not a half-renamed mix")
    assert(!db2.table("pin").df.inputFiles.exists(
      _.contains(s"cowdel_${token}_")),
      "an uncommitted promoted file must be invisible to pinned reads")
    assert(db2.table("pin").df.inputFiles.exists(_.contains("cowdel_bak_")),
      "the backed-up original must serve from the swap's backup dir")
    // the SQL route re-resolves per statement — same isolation
    assert(db2.execute("SELECT count(*) AS n FROM pin")
      .collect()(0).getLong(0) == 239L)
    // vacuum rolls the crashed swap back; pinned reads keep serving
    assert(db2.vacuum()("recovered") >= 1)
    assert(db2.table("pin").count == 239L)
    assert(db2.table("pin").df.inputFiles.forall(!_.contains("cowdel_bak_")),
      "post-recovery reads are all-live again")
    // an ALREADY-RESOLVED frame across a LATER committed swap fails
    // loudly (its file paths physically moved) — never a half state;
    // fresh reads pick up the new manifest. Point-in-time access to
    // the pre-swap state is readVersion/readTimestamp's job (retention
    // keeps those bytes; an in-flight frame is not a snapshot handle).
    val stale = db2.table("pin").df
    val staleCount = stale.count() // resolves + reads fine pre-swap
    assert(staleCount == 239L)
    db2.execute("DELETE FROM pin WHERE k BETWEEN 30 AND 40").collect(): Unit
    assert(db2.table("pin").count == 228L,
      "next read picks up the new manifest")
  }

  test("r17: DML sidecar maintenance is O(delta) — tombstone + fresh-band segments, no rewrite") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 200L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("sd"))
    val tbl = db2.table("sd")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".stats"))
    wipe(new java.io.File(tbl.path + ".properties"))
    wipe(new java.io.File(api.Table.versionDirOf(tbl.path)))
    tbl.analyzeStats(Seq("k")): Unit
    def segs(): Map[String, Long] =
      new java.io.File(tbl.path + ".stats").listFiles().toSeq
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.length()).toMap
    val before = segs()
    val rc = db2.execute("DELETE FROM sd WHERE k BETWEEN 10 AND 20")
      .collect()(0).getLong(0)
    assert(rc == 11L)
    val after = segs()
    assert(before.forall { case (n, len) => after.get(n).contains(len) },
      "the analyze-time segment must survive byte-identical (no rewrite)")
    // r18 optimization: the tombstones and the fresh bands land as ONE
    // fused appended segment (one write job per swap, half the r17
    // job count) — still O(delta) data, still no rewrite
    assert(after.size == before.size + 1,
      s"exactly one fused tombstone+fresh-band segment appended: " +
        s"${before.size} -> ${after.size}")
    // and that segment carries BOTH row classes: tombstones (n_rows < 0)
    // masking the rewritten files, fresh bands (n_rows >= 0) covering
    // the promoted ones
    val seg = spark.read.parquet(
      (after.keySet -- before.keySet).map(n =>
        tbl.path + ".stats/" + n).head)
    assert(seg.filter(col("n_rows") < 0L).count() > 0, "tombstone rows")
    assert(seg.filter(col("n_rows") >= 0L).count() > 0, "fresh-band rows")
    // the folded sidecar still serves the exact metadata routes
    val n = tbl.aggsFromStats(Seq(("count", "", "n"))).getOrElse(sys.error(
      "the sidecar must keep serving the metadata count after a DML swap"))
      .collect()(0).getLong(0)
    assert(n == 189L, s"folded metadata count: $n")
    // and file skipping still prunes with correct results
    val pruned = tbl.readPruned("k", 150L, 160L)
    assert(pruned.count() == 11L)
    assert(pruned.inputFiles.length < tbl.df.inputFiles.length,
      "skipping must still prune after the tombstone fold")
  }

  test("r17: TRUNCATE TABLE statement sugar — reference rowcount contract, schema kept") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 42L).map(k => (k, s"s$k")).toDF("k", "s")
      .write.mode("overwrite").parquet(db2.pathOf("trc"))
    val out = db2.execute("TRUNCATE TABLE trc").collect()
    assert(out(0).getLong(0) == 42L, "rowcount = rows removed")
    assert(db2.table("trc").count == 0L)
    assert(db2.table("trc").df.columns.toSeq == Seq("k", "s"),
      "truncate keeps the schema")
    // idempotent re-run, and unknown tables refuse
    assert(db2.execute("TRUNCATE trc").collect()(0).getLong(0) == 0L)
    intercept[IllegalArgumentException] {
      db2.execute("TRUNCATE TABLE nosuch") }
  }

  test("r18: versionAt tie-breaks equal wall-clocks toward the newest version") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 10L).toDF("k").write.mode("overwrite").parquet(db2.pathOf("tie"))
    val tbl = db2.table("tie")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    val v1 = tbl.snapshot()
    val v2 = tbl.snapshot()
    // force the exact hazard: both manifests carry the SAME #ts=
    // wall-clock (a retain+pinned DML publishes pre- and post-swap
    // manifests back-to-back within one millisecond)
    def mf(v: Int) = new java.io.File(tbl.path + ".versions", s"v$v.manifest")
    val ts1 = scala.io.Source.fromFile(mf(v1)).getLines()
      .find(_.startsWith("#ts=")).get.stripPrefix("#ts=").toLong
    val body2 = scala.io.Source.fromFile(mf(v2)).getLines().toList
      .map(l => if (l.startsWith("#ts=")) s"#ts=$ts1" else l)
    // rewrite through the Fs seam so the local FS checksum stays valid
    api.Fs.writeUtf8(api.Fs.path(mf(v2).getPath),
      body2.map(_ + "\n").mkString)
    // the fixture edited a manifest header OUT OF BAND (manifests are
    // write-once through the real publish path, where the `_ts_index`
    // summary is maintained in the same call) — drop the summary so the
    // edit is coherent; this also pins the fallback path re-deriving
    // timestamps from the manifests' own headers (r19)
    new java.io.File(tbl.path + ".versions", "_ts_index").delete(): Unit
    assert(tbl.versionAt(ts1) == v2,
      "equal timestamps must resolve to the NEWEST version (post-swap " +
        "state), not the first manifest listed")
  }

  test("r18: manifest keep-window bounds a pinned table's history across 100 mutations") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 50L).map(k => (k, k * 2.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(db2.pathOf("mk"))
    val tbl = db2.table("mk")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    wipe(new java.io.File(tbl.path + ".properties"))
    tbl.setPinnedReads(true)
    tbl.setManifestKeep(5)
    // 100 publishes (a pinned table publishes one per façade mutation)
    (1 to 99).foreach(_ => tbl.snapshot(): Unit)
    assert(tbl.versions.length == 5,
      s"keep-window must bound the manifest count, got ${tbl.versions.length}")
    assert(tbl.versions.max == 100, "the latest version always survives")
    // real mutations stay inside the window too, and pinned reads serve
    tbl.write((51L to 60L).map(k => (k, k * 2.0)).toDF("k", "v"))
    assert(tbl.versions.length == 5)
    assert(db2.table("mk").count == 60L)
    // a pruned version refuses loudly (readVersion's missing-manifest
    // contract), never serves silently-partial history
    intercept[IllegalArgumentException](tbl.readVersion(1))
  }

  test("r18: statement bind reads each referenced table's sidecar at most once") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 30L).map(k => (k, k * 3.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(db2.pathOf("pr"))
    db2.execute("SELECT sum(v) AS s FROM pr").collect(): Unit // warm bind
    val before = api.Table.propsReads.get()
    db2.execute("SELECT sum(v) AS s FROM pr").collect(): Unit
    val delta = api.Table.propsReads.get() - before
    assert(delta <= 1,
      s"a warm statement bind must read the .properties sidecar at most " +
        s"once per referenced table (pinned dispatch + declared schema + " +
        s"repin off ONE read); observed $delta")
  }

  test("r18: autoMerge evolution rolls back when the merge refuses pre-commit") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 10L).map(k => (k, k * 1.0)).toDF("k", "v").coalesce(1)
      .write.mode("overwrite").parquet(db2.pathOf("am"))
    val tbl = db2.table("am")
    // a prior run's evolved declared schema must not pre-seed src_tag
    new java.io.File(tbl.path + ".properties").delete(): Unit
    tbl.setAutoMerge(true)
    // the INSERT names an unknown column (evolution adds it), then the
    // duplicate source key 5 fails the ANSI cardinality check — the
    // refused statement must leave NO evolved column behind (Delta
    // commits evolution atomically with the merge)
    val err = intercept[IllegalStateException] {
      db2.execute("MERGE INTO am USING (SELECT 5 AS k UNION ALL " +
        "SELECT 5 UNION ALL SELECT 99) s ON am.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET v = 0 " +
        "WHEN NOT MATCHED THEN INSERT (k, src_tag) VALUES (s.k, 7)").collect()
    }
    assert(err.getMessage.contains("cardinality"))
    assert(!db2.table("am").df.columns.contains("src_tag"),
      "a refused MERGE must roll its schema evolution back")
    assert(db2.table("am").count == 10L)
    // the same statement WITHOUT the violation commits evolution + data
    val rc = db2.execute("MERGE INTO am USING (SELECT 5 AS k UNION ALL " +
      "SELECT 99) s ON am.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = 0 " +
      "WHEN NOT MATCHED THEN INSERT (k, src_tag) VALUES (s.k, 7)")
      .collect()(0).getLong(0)
    assert(rc == 2L)
    val t = db2.table("am").df
    assert(t.columns.contains("src_tag"))
    assert(t.filter(col("k") === 99L && col("src_tag") === 7).count() == 1L)
  }

  test("r18: store-overwrite honors pinned + retention contracts (no silent history loss)") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 40L).map(k => (k, k * 1.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(db2.pathOf("sov"))
    val tbl = db2.table("sov")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(tbl.path + ".versions"))
    wipe(new java.io.File(tbl.path + ".properties"))
    new java.io.File(tbl.path).getParentFile.listFiles()
      .filter(_.getName.startsWith("sov.parquet.retain_")).foreach(wipe)
    tbl.setPinnedReads(true)
    tbl.setCowRetention(true)
    val preV = tbl.versions.max
    // the façade overwrite routes through the staged replace: pre-state
    // snapshots + retires to the retention area, post-state publishes
    db2.store((100L to 105L).map(k => (k, k * 1.0)).toDF("k", "v"),
      "sov", "overwrite")
    assert(db2.table("sov").count == 6L,
      "pinned reads serve the overwritten state (post-state manifest " +
        "published — r17 left them failing until a manual snapshot)")
    assert(tbl.readVersion(preV).count() == 40L,
      "retained pre-overwrite history stays servable")
  }

  test("r18: warehouse-level defaults opt tables in; per-table override wins") {
    import spark.implicits._
    // DEDICATED root (not the numbered scratch sequence): the defaults
    // file opts every table of its warehouse in, and scratch numbers
    // shift between filtered and full test runs — a leaked defaults
    // file must never poison an unrelated test's scratch
    val root = new java.io.File(scratchRoot, "whdefaults").getPath
    new java.io.File(root).mkdirs()
    val db2 = Datum.connect(s"parquet://$root")
    db2.setDefaultCowRetention(true)
    db2.setDefaultPinnedReads(true)
    // a NEW table inherits both defaults with no per-table property
    db2.store((1L to 30L).map(k => (k, k * 1.0)).toDF("k", "v"), "wd",
      "overwrite")
    val tbl = db2.table("wd")
    assert(tbl.versions.nonEmpty,
      "a pinned-by-default table publishes its manifest at create")
    def retainDirs() = Option(new java.io.File(tbl.path).getParentFile
      .listFiles()).getOrElse(Array.empty)
      .count(_.getName.startsWith("wd.parquet.retain_"))
    val r0 = retainDirs()
    assert(db2.execute("DELETE FROM wd WHERE k <= 3").collect()(0)
      .getLong(0) == 3L)
    assert(retainDirs() > r0,
      "a DML swap under the warehouse retention default retires files " +
        "to the retention area")
    assert(db2.table("wd").count == 27L, "pinned read serves post-swap")
    // explicit per-table FALSE beats the warehouse default
    tbl.setCowRetention(false)
    val r1 = retainDirs()
    assert(db2.execute("DELETE FROM wd WHERE k <= 6").collect()(0)
      .getLong(0) == 3L)
    assert(retainDirs() == r1,
      "an explicit per-table override must win over the warehouse default")
  }

  test("r18: ALTER COLUMN TYPE widening retypes the skipping sidecar; DML keeps metadata routes") {
    import spark.implicits._
    val db2 = scratchDb()
    (1 to 200).map(k => (k, k * 5.0)).toDF("k", "v")
      .repartitionByRange(4, col("k"))
      .write.mode("overwrite").parquet(db2.pathOf("wt"))
    val tbl = db2.table("wt")
    // a prior run's widened declared schema / sidecar must not leak in
    def preWipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(preWipe)
      f.delete(): Unit
    }
    preWipe(new java.io.File(tbl.path + ".properties"))
    preWipe(new java.io.File(tbl.path + ".stats"))
    tbl.analyzeStats(Seq("k")): Unit
    db2.execute("ALTER TABLE wt ALTER COLUMN k TYPE BIGINT").collect(): Unit
    val sidecar = spark.read.parquet(tbl.path + ".stats")
    assert(sidecar.schema("min_k").dataType ==
      org.apache.spark.sql.types.LongType,
      "the sidecar's band types must follow the widened column")
    // the metadata COUNT route still serves (coverage intact, uniform
    // footers), and a COW DML's appended segments stay type-uniform
    assert(db2.execute("SELECT count(*) AS n FROM wt").collect()(0)
      .getLong(0) == 200L)
    assert(db2.execute("DELETE FROM wt WHERE k BETWEEN 10 AND 19")
      .collect()(0).getLong(0) == 10L)
    assert(db2.execute("SELECT count(*) AS n FROM wt").collect()(0)
      .getLong(0) == 190L)
    val post = spark.read.parquet(tbl.path + ".stats")
    assert(post.schema("min_k").dataType ==
      org.apache.spark.sql.types.LongType,
      "post-DML appended segments must carry the widened type too")
    assert(post.filter(col("n_rows") < 0).count() >= 1,
      "the swap's tombstone segment landed (O(delta) maintenance)")
  }

  test("r19: _ts_index summary serves TIMESTAMP AS OF in one read, falls back and self-repairs when torn") {
    import spark.implicits._
    val db2 = scratchDb()
    (1L to 5L).toDF("k").write.mode("overwrite").parquet(db2.pathOf("tsx"))
    val tbl = db2.table("tsx")
    val v1 = tbl.snapshot()
    val v2 = tbl.snapshot()
    val idx = new java.io.File(tbl.path + ".versions", "_ts_index")
    assert(idx.isFile, "snapshot() maintains the _ts_index summary")
    val served = tbl.versionTimestamps
    assert(served.map(_._1) == Seq(v1, v2))
    // the summary must agree with the manifests' own #ts= headers
    def headerTs(v: Int): Long =
      scala.io.Source.fromFile(new java.io.File(tbl.path + ".versions",
        s"v$v.manifest")).getLines()
        .find(_.startsWith("#ts=")).get.stripPrefix("#ts=").toLong
    assert(served.toMap == Map(v1 -> headerTs(v1), v2 -> headerTs(v2)))
    // a torn write (no #end terminator, truncated ts) must NOT serve —
    // fallback re-derives from the manifests and repairs the file
    api.Fs.writeUtf8(api.Fs.path(idx.getPath), s"v$v1=1\nv$v2=1")
    assert(tbl.versionTimestamps.toMap ==
      Map(v1 -> headerTs(v1), v2 -> headerTs(v2)),
      "an unterminated summary must fall back to the manifest headers")
    assert(scala.io.Source.fromFile(idx).mkString.contains("#end"),
      "the fallback repairs the summary for the next caller")
    // versionAt resolves off the repaired summary
    assert(tbl.versionAt(headerTs(v2)) == v2)
  }

  test("r19: _keybands sidecar prunes tombstone-fold discovery to candidate dirs, untouched dirs never rewrite") {
    import spark.implicits._
    val db2 = scratchDb()
    val idx = db2.pathOf("kb_idx")
    // 4 lists × 100 keys; key → list is NOT derivable from the key (the
    // layout compactTombstones serves: bucket/list vs doc_id/vec_id)
    (0L until 400L).map(k => (k, ((k * 7) % 4).toInt)).toDF("vec_id", "list_id")
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(idx)
    api.Database.writeKeyBlooms(spark, idx, "vec_id", "list_id")
    val blooms = api.Database.readKeyBlooms(spark, idx).get
    assert(blooms.keySet == Set("0", "1", "2", "3"))
    // no false negatives: every key's own list must report membership
    assert(graft.functions.BloomHelper.contains(blooms("1"), 3L,
      api.Database.KeyBloomK), "3*7%4=1: key 3 lives in list 1")
    val untouchedFiles = new java.io.File(idx, "list_id=2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        (f.getName, f.lastModified())).toSeq
    // tombstone two keys of list 1 (3*7%4=1, 7*7%4=1) — discovery must
    // prune to (at most, modulo fp) the candidate lists and the fold
    // must leave list 2's files byte-untouched
    api.Database.addTombstones(spark, idx, Seq(3L, 7L).toDF("vec_id"), "vec_id")
    api.Database.compactTombstones(spark, idx, "vec_id", "list_id")
    assert(spark.read.parquet(idx)
      .filter(col("vec_id").isin(3L, 7L)).count() == 0L,
      "tombstoned keys physically absent after the fold")
    assert(spark.read.parquet(idx).count() == 398L)
    assert(!new java.io.File(idx, "_tombstones").exists(),
      "the fold reclaims the epoch")
    assert(new java.io.File(idx, "list_id=2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f =>
        (f.getName, f.lastModified())).toSeq == untouchedFiles,
      "a dir holding no tombstoned key must not rewrite")
    // sidecar absent → same fold result through the full-scan fallback
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(wipe)
      f.delete(): Unit
    }
    wipe(new java.io.File(idx, api.Database.KeyBandsDir))
    api.Database.addTombstones(spark, idx, Seq(8L).toDF("vec_id"), "vec_id")
    api.Database.compactTombstones(spark, idx, "vec_id", "list_id")
    assert(spark.read.parquet(idx).count() == 397L,
      "a missing sidecar degrades to full discovery, same result")
  }

  test("r19: inParallel legs drain their own thread's tracked persists") {
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = graft.rel.Q.inParallel(Seq(() => {
      val df = graft.Caches.persistTracked(
        spark.range(100).toDF("k"))
      df.count()
    }))
    assert(out == Seq(100L))
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "a pool-thread persistTracked must not outlive its leg")
  }
}
