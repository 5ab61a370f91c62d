package graft

import graft.operators.RetailEtl
import graft.sources.SalesJdbc

/** Write-side JDBC contract (reference loading.py:124-161) proven
  * against embedded Derby (on the Spark classpath): truncate-replace
  * via [[SalesJdbc.writeSummary]] and keyed merge via
  * [[SalesJdbc.upsertInto]], plus the generated MySQL upsert SQL the
  * reference dialect would receive.
  */
class SalesJdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val cfg = SalesJdbc.Config(url = url, table = "sales_summary")

  private def withStatement(f: java.sql.Statement => Unit): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    try f(st) finally { st.close(); conn.close() }
  }

  private def freshTable(): Unit = withStatement { st =>
    try st.execute("DROP TABLE sales_summary") catch { case _: java.sql.SQLException => }
    // the reference's CREATE_TABLE_SQL (loading.py:16-22)
    st.execute("CREATE TABLE sales_summary (" +
      "product_id INT PRIMARY KEY, " +
      "total_quantity INT NOT NULL, " +
      "total_sale_amount DECIMAL(10,2) NOT NULL)")
  }

  private def readBack(): Map[Int, (Int, BigDecimal)] =
    spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "sales_summary"))
      .load().collect()
      .map(r => r.getInt(0) -> (r.getInt(1), BigDecimal(r.getDecimal(2)))).toMap

  test("upsertSql: MySQL dialect reproduces the reference INSERT..ON DUPLICATE") {
    val cols = Seq("product_id", "total_quantity", "total_sale_amount")
    val sql = SalesJdbc.upsertSql("jdbc:mysql://db/retail", "sales_summary",
      cols, Seq("product_id"))
    assert(sql.contains(
      "INSERT INTO sales_summary (product_id, total_quantity, total_sale_amount) " +
        "VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE total_quantity = VALUES(total_quantity), " +
        "total_sale_amount = VALUES(total_sale_amount)"))
    // golden-text pin (r16): the Postgres branch is untestable
    // end-to-end in this sandbox (no container runtime), so the EXACT
    // generated statement is asserted — not a substring — mirroring
    // the MySQL golden above
    val pg = SalesJdbc.upsertSql("jdbc:postgresql://db/retail", "sales_summary",
      cols, Seq("product_id"))
    assert(pg.contains(
      "INSERT INTO sales_summary (product_id, total_quantity, total_sale_amount) " +
        "VALUES (?, ?, ?) " +
        "ON CONFLICT (product_id) DO UPDATE SET " +
        "total_quantity = EXCLUDED.total_quantity, " +
        "total_sale_amount = EXCLUDED.total_sale_amount"))
    // Derby has no parameterizable one-statement form
    assert(SalesJdbc.upsertSql(url, "sales_summary", cols, Seq("product_id")).isEmpty)
    val (up, ins) = SalesJdbc.updateThenInsertSql("sales_summary", cols, Seq("product_id"))
    assert(up == "UPDATE sales_summary SET total_quantity = ?, " +
      "total_sale_amount = ? WHERE product_id = ?")
    assert(ins == "INSERT INTO sales_summary " +
      "(product_id, total_quantity, total_sale_amount) VALUES (?, ?, ?)")
  }

  test("upsertSql rejects keys outside the column set and key-only upserts") {
    intercept[IllegalArgumentException] {
      SalesJdbc.upsertSql(url, "t", Seq("a", "b"), Seq("missing"))
    }
    intercept[IllegalArgumentException] {
      SalesJdbc.updateThenInsertSql("t", Seq("a"), Seq("a"))
    }
  }

  test("writeSummary truncate-replaces the table idempotently") {
    freshTable()
    val v1 = Seq((1, 5, BigDecimal("10.00")), (2, 3, BigDecimal("6.50")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    SalesJdbc.writeSummary(v1, cfg)
    assert(readBack() == Map(
      1 -> ((5, BigDecimal("10.00"))), 2 -> ((3, BigDecimal("6.50")))))

    // second run fully replaces (reference TRUNCATE + insert): row 2
    // disappears, row 3 appears — and the PK survives the truncate
    val v2 = Seq((1, 7, BigDecimal("14.00")), (3, 1, BigDecimal("2.25")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    SalesJdbc.writeSummary(v2, cfg)
    assert(readBack() == Map(
      1 -> ((7, BigDecimal("14.00"))), 3 -> ((1, BigDecimal("2.25")))))
    withStatement { st =>
      intercept[java.sql.SQLException] { // PK intact after truncate path
        st.execute("INSERT INTO sales_summary VALUES (1, 0, 0.00)")
      }
    }
  }

  test("upsertInto merges by key: updates collide, inserts append, rest survive") {
    freshTable()
    val base = Seq((1, 5, BigDecimal("10.00")), (2, 3, BigDecimal("6.50")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    SalesJdbc.writeSummary(base, cfg)

    val delta = Seq((2, 9, BigDecimal("19.75")), (4, 2, BigDecimal("4.00")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
      .repartition(3) // prove partition-parallel writers compose
    SalesJdbc.upsertInto(delta, cfg, Seq("product_id"))
    assert(readBack() == Map(
      1 -> ((5, BigDecimal("10.00"))),   // untouched row survives (no truncate)
      2 -> ((9, BigDecimal("19.75"))),   // collided key updated
      4 -> ((2, BigDecimal("4.00")))))   // new key inserted

    // idempotent: re-applying the same delta changes nothing
    SalesJdbc.upsertInto(delta, cfg, Seq("product_id"))
    assert(readBack().size == 3)
  }

  // ——— identifier case: the same statements against the three table
  // shapes a sink meets ———

  private def rows(table: String): Map[Long, (Double, Double)] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(s"SELECT * FROM $table")
      val m = Map.newBuilder[Long, (Double, Double)]
      while (rs.next()) m += rs.getLong(1) -> ((rs.getDouble(2), rs.getDouble(3)))
      m.result()
    } finally conn.close()
  }

  private val shapes = Seq(
    // the Postgres shape: quoted lower-case identifiers
    ("shape_quoted", "\"product_id\" BIGINT PRIMARY KEY, \"total_quantity\" DOUBLE, " +
      "\"total_sale_amount\" DOUBLE", "\"product_id\""),
    // unquoted upper-case DDL
    ("shape_upper", "PRODUCT_ID BIGINT PRIMARY KEY, TOTAL_QUANTITY DOUBLE, " +
      "TOTAL_SALE_AMOUNT DOUBLE", "\"PRODUCT_ID\""),
    // the reference's sink DDL (loading.py:16-22), unquoted lower-case
    ("shape_reference", "product_id INT PRIMARY KEY, total_quantity INT NOT NULL, " +
      "total_sale_amount DECIMAL(10,2) NOT NULL", "\"PRODUCT_ID\""))

  for ((table, ddl, quotedKey) <- shapes)
    test(s"probeBounds and upsertInto resolve and quote columns: $table") {
      withStatement { st =>
        try st.execute(s"DROP TABLE $table") catch { case _: java.sql.SQLException => }
        st.execute(s"CREATE TABLE $table ($ddl)")
        st.execute(s"INSERT INTO $table VALUES (1, 5, 10.00), (2, 3, 6.50)")
      }
      val tcfg = SalesJdbc.Config(url, table = table, partitionColumn = "product_id",
        numPartitions = 2)
      assert(SalesJdbc.quotedColumns(spark, tcfg, Seq("product_id")) == Seq(quotedKey))
      assert(SalesJdbc.probeBounds(spark, tcfg) == Some((1L, 2L)))
      assert(SalesJdbc.read(spark, tcfg).count() == 2)
      val delta = Seq((2L, 9.0, 19.75), (4L, 2.0, 4.0))
        .toDF("product_id", "total_quantity", "total_sale_amount").repartition(2)
      SalesJdbc.upsertInto(delta, tcfg, Seq("product_id"))
      SalesJdbc.upsertInto(delta, tcfg, Seq("product_id"))
      assert(rows(table) == Map(1L -> ((5.0, 10.0)), 2L -> ((9.0, 19.75)), 4L -> ((2.0, 4.0))))
    }

  test("a case-sensitive session does not fold a column onto the table's") {
    val tcfg = SalesJdbc.Config(url, table = "shape_case", partitionColumn = "product_id")
    withStatement { st =>
      try st.execute("DROP TABLE shape_case") catch { case _: java.sql.SQLException => }
      st.execute("CREATE TABLE shape_case (product_id BIGINT, total_quantity DOUBLE)")
    }
    spark.conf.set("spark.sql.caseSensitive", "true")
    try {
      val e = intercept[IllegalArgumentException](SalesJdbc.probeBounds(spark, tcfg))
      assert(e.getMessage.contains("product_id") && e.getMessage.contains("PRODUCT_ID"))
    } finally spark.conf.unset("spark.sql.caseSensitive")
    assert(SalesJdbc.probeBounds(spark, tcfg).isEmpty) // empty table, resolved column
  }

  test("extractOnlineSales over unquoted DDL (Derby's SALE_ID…) succeeds") {
    withStatement { st =>
      try st.execute("DROP TABLE online_native") catch { case _: java.sql.SQLException => }
      st.execute("CREATE TABLE online_native (sale_id BIGINT, product_id BIGINT, " +
        "quantity DOUBLE, sale_amount DOUBLE, sale_date DATE)")
      st.execute("INSERT INTO online_native VALUES " +
        "(1, 101, 3, 60.0, '2025-04-02'), (2, 102, 2, 45.5, '2025-04-03')")
    }
    val out = SalesJdbc.extractOnlineSales(spark,
      SalesJdbc.Config(url, table = "online_native", numPartitions = 2))
    assert(out.columns.toSeq == RetailEtl.RequiredColumns)
    assert(out.collect().map(_.toSeq).toSet == Set(
      Seq("1", "101", "3.0", "60.0", "2025-04-02"),
      Seq("2", "102", "2.0", "45.5", "2025-04-03")))
  }
}
