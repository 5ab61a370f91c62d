package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.jdbc.JdbcDialects

import graft.operators.RetailEtl

/** JDBC source for the reference's online-sales extract
  * (/root/reference/scripts/extraction.py:98-144 reads the
  * `online_sales` Postgres table; extraction.py:60-68 stringifies
  * every column for transport).
  *
  * Unlike the reference's single-cursor `get_pandas_df`, the read is
  * range-partitioned on `partitionColumn` so a 100 TB-era table
  * lands as `numPartitions` parallel cursors — the only JDBC read
  * shape that scales. Bounds default to a min/max probe of the
  * partition column at read time (hardcoded defaults would silently
  * collapse parallelism: everything past a stale upperBound piles
  * into the last partition). `fetchsize` keeps each cursor streaming
  * instead of buffering the partition.
  */
object SalesJdbc {

  final case class Config(
      url: String,
      table: String = "online_sales",
      user: Option[String] = None,
      password: Option[String] = None,
      partitionColumn: String = "sale_id",
      bounds: Option[(Long, Long)] = None,
      numPartitions: Int = 32,
      fetchSize: Int = 10000) {
    // never leak credentials through logs/exceptions
    override def toString: String =
      s"Config($url, $table, user=${user.map(_ => "***")}, " +
        s"password=${password.map(_ => "***")}, $partitionColumn, " +
        s"$bounds, $numPartitions, $fetchSize)"
  }

  private def baseOptions(cfg: Config): Map[String, String] =
    Map("url" -> cfg.url, "fetchsize" -> cfg.fetchSize.toString) ++
      cfg.user.map("user" -> _) ++
      cfg.password.map("password" -> _)

  /** The option map for `spark.read.format("jdbc")` — pure function,
    * unit-testable without a live database. Partitioning options are
    * emitted only when bounds are known; Spark rejects
    * `partitionColumn` without both bounds.
    */
  def options(cfg: Config): Map[String, String] =
    baseOptions(cfg) + ("dbtable" -> cfg.table) ++
      cfg.bounds.toSeq.flatMap { case (lo, hi) =>
        Seq(
          "partitionColumn" -> cfg.partitionColumn,
          "lowerBound" -> lo.toString,
          "upperBound" -> hi.toString,
          "numPartitions" -> cfg.numPartitions.toString)
      }

  private def connect(url: String, user: Option[String],
                      password: Option[String]): java.sql.Connection = {
    val props = new java.util.Properties()
    user.foreach(props.setProperty("user", _))
    password.foreach(props.setProperty("password", _))
    java.sql.DriverManager.getConnection(url, props)
  }

  /** `cols` as quoted identifiers of `cfg.table`'s actual columns: each
    * name resolves against the table's schema the way the session
    * resolves columns, then is quoted by the URL's dialect — what
    * Spark's own `JdbcUtils.getInsertStatement` emits. One
    * `SELECT * … WHERE 1=0` round trip on the driver. Unquoted SQL
    * breaks on a quoted lower-case table (the Postgres shape,
    * `"sale_id"`), and quoting the caller's spelling breaks on an
    * unquoted upper-case one (Derby's `SALE_ID`); the resolved, quoted
    * name fits both.
    */
  private[graft] def quotedColumns(spark: SparkSession, cfg: Config,
                                   cols: Seq[String]): Seq[String] = {
    val dialect = JdbcDialects.get(cfg.url)
    val conn = connect(cfg.url, cfg.user, cfg.password)
    val actual = try {
      val st = conn.prepareStatement(dialect.getSchemaQuery(cfg.table))
      try {
        val md = st.executeQuery().getMetaData
        (1 to md.getColumnCount).map(md.getColumnLabel)
      } finally st.close()
    } finally conn.close()
    val cs = RetailEtl.caseSensitive(spark)
    cols.map { c =>
      val name = RetailEtl.resolveName(actual, c, cs).getOrElse(throw new IllegalArgumentException(
        s"column '$c' not found in ${cfg.table} (${actual.mkString(", ")})"))
      dialect.quoteIdentifier(name)
    }
  }

  /** One-row probe for the partition bounds (pushed down to the
    * database as min/max — trivial for a btree-indexed key). None
    * when the table is empty (min/max are NULL): the caller falls
    * back to an unpartitioned read instead of NPE-ing. Any integral
    * key width reads back (the reference's sink key is INT).
    */
  def probeBounds(spark: SparkSession, cfg: Config): Option[(Long, Long)] = {
    val pc = quotedColumns(spark, cfg, Seq(cfg.partitionColumn)).head
    val probe = spark.read.format("jdbc")
      .options(baseOptions(cfg) + ("dbtable" ->
        s"(SELECT min($pc) AS lo, max($pc) AS hi FROM ${cfg.table}) b"))
      .load()
      .collect()(0)
    if (probe.isNullAt(0) || probe.isNullAt(1)) None
    else Some((probe.getAs[Number](0).longValue, probe.getAs[Number](1).longValue))
  }

  def read(spark: SparkSession, cfg: Config): DataFrame = {
    val bounded = if (cfg.bounds.isDefined) cfg
      else cfg.copy(bounds = probeBounds(spark, cfg))
    spark.read.format("jdbc").options(options(bounded)).load()
  }

  /** Full extract in the reference's transport format (stringified
    * columns, `yyyy-MM-dd` dates), ready for
    * [[graft.operators.RetailEtl.convertTyped]].
    */
  def extractOnlineSales(spark: SparkSession, cfg: Config): DataFrame =
    RetailEtl.asTransportStrings(RetailEtl.validateColumns(read(spark, cfg)))

  // ——— write side (reference loading.py:124-161: CSV save + MySQL
  // truncate + batch INSERT … ON DUPLICATE KEY UPDATE) ———

  /** The reference's CSV artifact (loading.py:126-131: overwrite
    * `sales_summary.csv`). `singleFile` reproduces the reference's
    * one-file layout (coalesce(1) — fine for a summary table, wrong
    * for a fact); the default keeps the write partitioned.
    */
  def writeSummaryCsv(df: DataFrame, path: String,
                      singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Idempotent full replace of a summary table — the reference's
    * TRUNCATE + batch insert (loading.py:143-159) as Spark's JDBC
    * overwrite with `truncate=true`: the table is truncated in place
    * (schema, indexes, grants survive — same contract as the
    * reference's CREATE IF NOT EXISTS + TRUNCATE) and repopulated
    * with partition-parallel batched inserts.
    */
  def writeSummary(df: DataFrame, cfg: Config,
                   batchSize: Int = 1000): Unit =
    df.write.format("jdbc")
      .options(baseOptions(cfg) +
        ("dbtable" -> cfg.table) +
        ("truncate" -> "true") +
        ("batchsize" -> batchSize.toString))
      .mode(SaveMode.Overwrite)
      .save()

  private def checkUpsertCols(cols: Seq[String], keyCols: Seq[String]): Seq[String] = {
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"key columns $keyCols must be a subset of $cols")
    val nonKey = cols.filterNot(keyCols.contains)
    require(nonKey.nonEmpty, "upsert needs at least one non-key column")
    nonKey
  }

  /** Single-statement upsert for dialects that have one — pure
    * function, unit-testable without a database. MySQL URLs get the
    * reference's exact `INSERT … ON DUPLICATE KEY UPDATE`
    * (loading.py:25-32); Postgres gets
    * `INSERT … ON CONFLICT … DO UPDATE`. None for dialects without a
    * parameterizable one-statement form (e.g. Derby, whose MERGE
    * rejects a VALUES source) — [[upsertInto]] then falls back to
    * batched UPDATE-then-INSERT-the-misses.
    */
  def upsertSql(url: String, table: String, cols: Seq[String],
                keyCols: Seq[String]): Option[String] = {
    val nonKey = checkUpsertCols(cols, keyCols)
    val insert = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    if (url.startsWith("jdbc:mysql:"))
      Some(insert + " ON DUPLICATE KEY UPDATE " +
        nonKey.map(c => s"$c = VALUES($c)").mkString(", "))
    else if (url.startsWith("jdbc:postgresql:"))
      Some(insert + s" ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET " +
        nonKey.map(c => s"$c = EXCLUDED.$c").mkString(", "))
    else None
  }

  /** The portable upsert pair: `UPDATE … WHERE keys` (parameters:
    * non-key cols, then key cols) and a plain INSERT (parameters: all
    * cols in order) for the rows the update missed. */
  def updateThenInsertSql(table: String, cols: Seq[String],
                          keyCols: Seq[String]): (String, String) = {
    val nonKey = checkUpsertCols(cols, keyCols)
    val update = s"UPDATE $table SET " +
      nonKey.map(c => s"$c = ?").mkString(", ") +
      " WHERE " + keyCols.map(c => s"$c = ?").mkString(" AND ")
    val insert = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    (update, insert)
  }

  /** Relational upsert of a DataFrame into an existing keyed table:
    * each partition opens one connection and executes the dialect's
    * upsert statement in `batchSize` batches inside a transaction —
    * the reference's `executemany` + commit (loading.py:150-160),
    * but partition-parallel (|partitions| concurrent writers, each
    * streaming its slice) instead of one driver-side cursor holding
    * the whole summary in memory.
    *
    * Unlike [[writeSummary]] this never truncates: rows present in
    * `df` replace their keyed counterparts, all other rows survive —
    * the incremental-maintenance contract of
    * [[graft.operators.RetailEtl.upsertSummary]], pushed to the sink.
    * Column names are resolved against the table and quoted
    * ([[quotedColumns]]), so the statements fit quoted and unquoted
    * DDL alike.
    */
  def upsertInto(df: DataFrame, cfg: Config, keyCols: Seq[String],
                 batchSize: Int = 1000): Unit = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fieldNames.toSeq
    checkUpsertCols(cols, keyCols)
    val quoted = quotedColumns(df.sparkSession, cfg, cols)
    val quotedKeys = keyCols.map(k => quoted(cols.indexOf(k)))
    val oneShot = upsertSql(cfg.url, cfg.table, quoted, quotedKeys)
    val (updateSql, insertSql) = updateThenInsertSql(cfg.table, quoted, quotedKeys)
    // parameter order of the UPDATE: non-key cols, then key cols
    val updateIdx: Array[Int] =
      (cols.filterNot(keyCols.contains) ++ keyCols).map(cols.indexOf).toArray
    // JDBC type codes for setNull (Derby rejects Types.NULL)
    val sqlTypes: Array[Int] = df.schema.fields.map(_.dataType match {
      case IntegerType | ShortType | ByteType => java.sql.Types.INTEGER
      case LongType        => java.sql.Types.BIGINT
      case DoubleType      => java.sql.Types.DOUBLE
      case FloatType       => java.sql.Types.FLOAT
      case BooleanType     => java.sql.Types.BOOLEAN
      case DateType        => java.sql.Types.DATE
      case _: DecimalType  => java.sql.Types.DECIMAL
      case TimestampType | TimestampNTZType => java.sql.Types.TIMESTAMP
      case _               => java.sql.Types.VARCHAR
    })
    val url = cfg.url
    val user = cfg.user
    val password = cfg.password

    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        def bind(ps: java.sql.PreparedStatement, row: Row, order: Array[Int]): Unit = {
          var p = 0
          while (p < order.length) {
            val i = order(p)
            val v = row.get(i)
            if (v == null) ps.setNull(p + 1, sqlTypes(i))
            else ps.setObject(p + 1, v)
            p += 1
          }
        }
        val all = Array.tabulate(cols.length)(identity)
        val conn = connect(url, user, password)
        try {
          conn.setAutoCommit(false)
          oneShot match {
            case Some(sql) =>
              // dialect-native single-statement upsert, straight batching
              val ps = conn.prepareStatement(sql)
              try {
                var n = 0
                rows.foreach { row =>
                  bind(ps, row, all)
                  ps.addBatch()
                  n += 1
                  if (n % batchSize == 0) ps.executeBatch()
                }
                ps.executeBatch()
              } finally ps.close()
            case None =>
              // portable pair: batch the UPDATEs, re-INSERT the rows
              // whose update count came back 0 (requires a driver that
              // reports per-row counts — embedded DBs and the majors do)
              val up = conn.prepareStatement(updateSql)
              val ins = conn.prepareStatement(insertSql)
              try {
                val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
                def flush(): Unit = if (buf.nonEmpty) {
                  buf.foreach { r => bind(up, r, updateIdx); up.addBatch() }
                  val counts = up.executeBatch()
                  var i = 0; var misses = 0
                  while (i < counts.length) {
                    if (counts(i) == 0) { bind(ins, buf(i), all); ins.addBatch(); misses += 1 }
                    i += 1
                  }
                  if (misses > 0) ins.executeBatch()
                  buf.clear()
                }
                rows.foreach { row =>
                  buf += row
                  if (buf.size >= batchSize) flush()
                }
                flush()
              } finally { up.close(); ins.close() }
          }
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }
  }
}
