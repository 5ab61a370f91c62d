package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{RecallFloors, SparkEntry}
import graft.operators.RetailEtl
import graft.sources.{SalesCsv, SalesJdbc, Tables}

/** One closed-loop operation: `prepare` runs untimed before it,
  * `body` is the timed part, `check` runs untimed after it and
  * returns a failure message when the op's output is wrong. `rows`
  * is the source-row count the op consumes. */
final case class Op(key: String, module: String, rows: Long,
                    prepare: () => Unit, body: () => Unit, check: () => Option[String])

trait Workload {
  /** Session plus inputs. Called `Runner.Setups` times, each on a new
    * session, with `teardown` between calls. */
  def setup(spark: SparkSession, round: Int): Unit
  def teardown(): Unit = ()
  /** The cold first pass, timed as `build_s`; `run` executes and
    * checks one op. */
  def build(run: Op => Unit): Unit = cycle(-1).foreach(run)
  /** Ops of one measured cycle; every cycle holds the same ops. */
  def cycle(c: Int): Seq[Op]
  def warmCycles: Int
  /** Fewest measured cycles, whatever `--seconds` says. */
  def minCycles: Int
  /** Work after the measured cycles: returns keys whose ops must count
    * as failed, with the reason. */
  def finish(): Map[String, String] = Map.empty
  def report: Map[String, Any] = Map.empty
}

object Workload {
  def loadFingerprints(path: Path): Map[String, Fingerprint.Fp] =
    if (!Files.exists(path)) Map.empty
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(path.toFile)
      val it = root.fields()
      val m = mutable.Map.empty[String, Fingerprint.Fp]
      while (it.hasNext) { val e = it.next(); m(e.getKey) = Fingerprint.parse(e.getValue.asText()) }
      m.toMap
    }
}

/** LLM-data keys from `SparkEntry.queries`: the cold build is
  * `primeForKeys`, then each op is one key's frame build plus its
  * fingerprint, checked against the committed reference. */
final class CurationIndex(seed: Long, dataDir: String, refFile: Path, tracer: () => Option[Tracer])
    extends Workload {
  // one key per module, plus the exact ANN anchor and one in-memory
  // and one persisted-index tier
  val keys: Seq[String] = Seq(
    "dedup_minhash_lsh", "text_bm25_maxscore", "docs_curate_mixture", "stream_gopher_gate",
    "ann_bruteforce_topk", "ann_ivf_topk", "ann_index_ivf_probe")
  /** The table a key reads, for the rows-per-second numerator. */
  private def input(key: String): String = if (key.startsWith("ann_")) "embeddings" else "documents"
  private def module(key: String): String = key.takeWhile(_ != '_') match {
    case "docs" => "curation"
    case "stream" => "streaming"
    case prefix => prefix // ann, dedup, text
  }
  // op times settle from the third cycle after the cold build on
  val warmCycles = 2
  val minCycles = 3

  private var spark: SparkSession = _
  private var tableRows: Map[String, Long] = Map.empty
  private lazy val refs = Workload.loadFingerprints(refFile)
  /** Every distinct fingerprint each key produced in this run. */
  private val seen = mutable.Map.empty[String, Set[String]]
  private val recalls = mutable.Map.empty[String, Double]

  def setup(s: SparkSession, round: Int): Unit = {
    spark = s
    tableRows = keys.map(input).distinct.map(t => t -> Tables.load(s, dataDir, t).count()).toMap
    // the persisted ANN indexes live under the working directory; a
    // cold build must not find the previous round's files
    deleteTree(java.nio.file.Paths.get("target", "ann-index"))
  }

  override def build(run: Op => Unit): Unit = SparkEntry.primeForKeys(spark, dataDir, keys)

  private def frame(key: String): DataFrame = {
    val f = SparkEntry.queries(key)
    tracer().fold(f(spark, dataDir))(_.call("build")(f(spark, dataDir)))
  }

  private def op(key: String): Op = {
    var fp: Fingerprint.Fp = null
    Op(key, module(key), tableRows(input(key)),
      () => fp = null,
      () => fp = Fingerprint.of(frame(key)),
      () => {
        seen(key) = seen.getOrElse(key, Set.empty[String]) + fp.toString
        refs.get(key) match {
          case Some(want) if want == fp => None
          case Some(want) => Some(s"fingerprint $fp != reference $want")
          case None => Some("no reference fingerprint")
        }
      })
  }

  /** The seed permutes the key order of every cycle. */
  def cycle(c: Int): Seq[Op] = new scala.util.Random(seed * 1000003L + c).shuffle(keys).map(op)

  /** Macro recall@10 of each approximate tier in the key set against
    * its exact anchor, as `graft.Bench` defines it. */
  override def finish(): Map[String, String] = {
    val cols = Seq("query_id", "neighbor_id")
    val bad = mutable.Map.empty[String, String]
    RecallFloors.tiers.filter { case (a, e, _) => keys.contains(a) && keys.contains(e) }.foreach {
      case (approx, exactKey, floor) =>
        val exact = SparkEntry.queries(exactKey)(spark, dataDir).select(cols.map(col): _*)
        val got = SparkEntry.queries(approx)(spark, dataDir).select(cols.map(col): _*)
        val perQuery = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
          .join(exact.join(got, cols).groupBy("query_id").agg(count(lit(1)).as("n_hit")),
            Seq("query_id"), "left")
        val r = perQuery.agg(avg(coalesce(col("n_hit"), lit(0L)) / col("n_exact"))).first().getDouble(0)
        recalls(approx) = r
        if (r < floor) bad(approx) = f"recall@10 $r%.4f below floor $floor%.2f"
    }
    bad.toMap
  }

  override def report: Map[String, Any] = Map(
    "fingerprints" -> seen.toMap,
    "recall_at_10" -> recalls.toMap,
    "prime_build_ms" -> SparkEntry.primeDetail.toMap.map { case (k, v) => k -> v * 1000 },
    "prime_self_ms" -> SparkEntry.primeSelf.toMap.map { case (k, v) => k -> v * 1000 })

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val w = Files.walk(p)
    try w.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally w.close()
  }
}

/** The reference DAG: CSV + JDBC extract → summary → CSV + JDBC load,
  * then day-deltas merged and upserted into the JDBC summary. */
final class EtlDaily(seed: Long, work: Path, cores: Int, tracer: () => Option[Tracer]) extends Workload {
  val shape = SalesGen.Shape(rows = 60000, products = 8000, dirtyFrac = 0.03, zipfS = 1.1)
  val deltaShape = shape.copy(rows = 3000)
  val deltasPerCycle = 3
  // op times settle from about the fifth cycle after the cold build on
  val warmCycles = 4
  val minCycles = 2

  private var spark: SparkSession = _
  private var round = 0
  private def url = s"jdbc:derby:memory:perfbench$round"
  private def csvIn = work.resolve("in_store_sales.csv").toString
  private def csvOut = work.resolve("sales_summary_csv")
  private val expected = mutable.Map.empty[Long, (Double, Double)]
  private var base = Map.empty[Long, (Double, Double)]
  val defects = mutable.Map.empty[String, String]
  var defectAttempts = 0
  var defectFailures = 0

  private def q(c: String) = "\"" + c + "\""
  private val cols = Seq("sale_id", "product_id", "quantity", "sale_amount", "sale_date")
  private val types = Seq("BIGINT", "BIGINT", "DOUBLE", "DOUBLE", "DATE")

  def setup(s: SparkSession, r: Int): Unit = {
    spark = s; round = r
    val online = SalesGen.rows(seed, 1, 1L, shape, allowGarbled = false)
    val store = SalesGen.rows(seed, 2, 1L + shape.rows, shape, allowGarbled = true)
    SalesGen.writeCsv(store, java.nio.file.Paths.get(csvIn))
    val conn = java.sql.DriverManager.getConnection(url + ";create=true")
    try {
      val st = conn.createStatement()
      // the Postgres shape: lower-case quoted identifiers
      st.execute(s"CREATE TABLE online_sales (${cols.zip(types).map { case (c, t) => q(c) + " " + t }.mkString(", ")})")
      // Derby's native shape: unquoted DDL folds to upper case
      st.execute(s"CREATE TABLE online_sales_native (${cols.zip(types).map { case (c, t) => c + " " + t }.mkString(", ")})")
      // the reference's sink DDL, unquoted
      st.execute("CREATE TABLE sales_summary (product_id BIGINT PRIMARY KEY, " +
        "total_quantity DOUBLE, total_sale_amount DOUBLE)")
      SalesGen.insertJdbc(online, conn,
        s"INSERT INTO online_sales (${cols.map(q).mkString(", ")}) VALUES (?, ?, ?, ?, ?)")
      SalesGen.insertJdbc(SalesGen.rows(seed, 3, 1L, shape.copy(rows = 16), allowGarbled = false), conn,
        s"INSERT INTO online_sales_native (${cols.mkString(", ")}) VALUES (?, ?, ?, ?, ?)")
      st.close()
    } finally conn.close()
    val acc = mutable.Map.empty[Long, (Double, Double)]
    SalesGen.fold(online, acc); SalesGen.fold(store, acc)
    base = acc.toMap
  }

  override def teardown(): Unit =
    try java.sql.DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: java.sql.SQLException => () } // Derby reports a dropped database as an exception

  private def cfg(table: String, bounds: Option[(Long, Long)]) =
    SalesJdbc.Config(url, table = table, bounds = bounds, numPartitions = cores)

  /** The extract exactly as a user calls it: once against the
    * Postgres-shaped table with the default bound probe, once against
    * Derby's upper-case table. Both are known to fail; each outcome
    * is recorded, and the timed batch then uses explicit bounds. */
  private def defectProbes(): Unit = {
    def attempt(name: String)(f: => Unit): Unit = {
      defectAttempts += 1
      try { f; defects(name) = "passed" }
      catch { case NonFatal(e) =>
        defectFailures += 1
        defects(name) = Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString.take(200)
      }
    }
    attempt("probe_bounds_quoted_lowercase") {
      SalesJdbc.extractOnlineSales(spark, cfg("online_sales", None)).schema
    }
    attempt("validate_columns_uppercase") {
      SalesJdbc.extractOnlineSales(spark, cfg("online_sales_native", Some((1L, 16L)))).schema
    }
  }

  private def call[T](name: String)(body: => T): T = tracer().fold(body)(_.call(name)(body))

  private def readSink(): Map[Long, (Double, Double)] = {
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val rs = conn.createStatement().executeQuery(
        "SELECT product_id, total_quantity, total_sale_amount FROM sales_summary")
      val m = mutable.Map.empty[Long, (Double, Double)]
      while (rs.next()) m(rs.getLong(1)) = (rs.getDouble(2), rs.getDouble(3))
      m.toMap
    } finally conn.close()
  }

  private def readCsvArtifact(): Either[String, Map[Long, (Double, Double)]] = {
    val parts = Files.list(csvOut).iterator()
    val files = mutable.ArrayBuffer.empty[Path]
    while (parts.hasNext) { val p = parts.next(); if (p.getFileName.toString.startsWith("part-")) files += p }
    if (files.size != 1) Left(s"expected one CSV part file, found ${files.size}")
    else {
      val lines = Files.readAllLines(files.head).iterator()
      val header = lines.next()
      if (header != "product_id,total_quantity,total_sale_amount") Left(s"CSV header '$header'")
      else {
        val m = mutable.Map.empty[Long, (Double, Double)]
        while (lines.hasNext) {
          val Array(p, tq, ta) = lines.next().split(',')
          m(p.toLong) = (tq.toDouble, ta.toDouble)
        }
        Right(m.toMap)
      }
    }
  }

  private def diff(label: String, got: Map[Long, (Double, Double)]): Option[String] =
    if (got == expected) None
    else {
      val keys = (got.keySet ++ expected.keySet).toSeq.sorted
      val first = keys.find(k => got.get(k) != expected.get(k))
      Some(s"$label differs from the generator's totals on ${keys.count(k => got.get(k) != expected.get(k))} " +
        s"products, e.g. ${first.map(k => s"$k: ${got.get(k)} != ${expected.get(k)}").getOrElse("")}")
    }

  private def batch: Op = Op("etl_batch", "retail", 2L * shape.rows,
    () => defectProbes(),
    () => {
      val summary = call("build") {
        val online = RetailEtl.convertTyped(
          SalesJdbc.extractOnlineSales(spark, cfg("online_sales", Some((1L, shape.rows.toLong)))))
        RetailEtl.pipeline(online, SalesCsv.read(spark, csvIn))
      }
      call("csv_write")(SalesJdbc.writeSummaryCsv(summary, csvOut.toString, singleFile = true))
      call("jdbc_replace")(SalesJdbc.writeSummary(summary, cfg("sales_summary", None)))
    },
    () => {
      expected.clear(); expected ++= base
      readCsvArtifact() match {
        case Left(m) => Some(m)
        case Right(csv) => diff("CSV artifact", csv).orElse(diff("JDBC sink", readSink()))
      }
    })

  private def delta(c: Int, d: Int): Op = {
    val path = work.resolve(s"delta_${c}_$d.csv")
    var rows: SalesRows = null
    Op("etl_delta", "retail", deltaShape.rows,
      () => {
        val stream = 1000L + (c + 1000L) * 16 + d
        rows = SalesGen.rows(seed, stream, 10000000L * (stream + 1), deltaShape, allowGarbled = true)
        SalesGen.writeCsv(rows, path)
      },
      () => {
        val merged = call("build") {
          val deltaSummary = RetailEtl.aggregate(RetailEtl.clean(SalesCsv.read(spark, path.toString)))
          val existing = SalesJdbc.read(spark, SalesJdbc.Config(url, table = "sales_summary",
              partitionColumn = "product_id", bounds = Some((1L, shape.products.toLong)), numPartitions = cores))
            .toDF("product_id", "total_quantity", "total_sale_amount")
          RetailEtl.mergeSummaries(
            existing.join(deltaSummary.select("product_id"), Seq("product_id"), "left_semi"), deltaSummary)
        }
        call("jdbc_upsert")(SalesJdbc.upsertInto(merged, cfg("sales_summary", None), Seq("product_id")))
      },
      () => {
        SalesGen.fold(rows, expected)
        Files.deleteIfExists(path)
        diff("JDBC sink after upsert", readSink())
      })
  }

  def cycle(c: Int): Seq[Op] = batch +: (0 until deltasPerCycle).map(delta(c, _))

  override def report: Map[String, Any] = Map(
    "known_defects" -> defects.toMap,
    "known_defect_attempts" -> defectAttempts,
    "known_defect_failures" -> defectFailures)
}
