package perfbench

import java.time.LocalDate

/** Seeded sales-row generator for the `etl_daily` workload, with its
  * own expected per-product totals.
  *
  * Quantities are whole numbers and amounts are multiples of 0.25, so
  * every partial sum is an exact double: the totals the generator
  * folds here equal the pipeline's totals bit for bit in any
  * summation order. A `dirtyFrac` share of rows carries exactly one
  * defect that the reference cleaning step drops (a missing field, a
  * non-positive quantity or amount, or — in the CSV text only — an
  * unparseable field). Product ids follow a Zipf(`zipfS`) law over
  * `products` ids, so a few products own most rows.
  */
final case class SalesRows(
    saleId: Array[Long],
    productId: Array[Long],
    quantity: Array[Double],   // NaN marks a missing value
    amount: Array[Double],     // NaN marks a missing value
    day: Array[Int],           // -1 marks a missing value
    garbled: Array[Byte]) {    // CSV-only defect: 0 none, 1 quantity, 2 amount, 3 date
  def size: Int = saleId.length

  def isClean(i: Int): Boolean =
    garbled(i) == 0 && !quantity(i).isNaN && !amount(i).isNaN && day(i) >= 0 &&
      quantity(i) > 0 && amount(i) > 0
}

object SalesGen {
  val Epoch: LocalDate = LocalDate.of(2024, 1, 1)
  val Days = 365

  final case class Shape(rows: Int, products: Int, dirtyFrac: Double, zipfS: Double)

  private def zipfCdf(products: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(products)(i => 1.0 / math.pow(i + 1.0, s))
    val cdf = w.scanLeft(0.0)(_ + _).tail
    val total = cdf.last
    cdf.map(_ / total)
  }

  /** `rows` sale rows with ids `firstId until firstId + rows`. The
    * same (seed, stream) always yields the same rows; `allowGarbled`
    * only adds text-level defects, which exist for CSV sources. */
  def rows(seed: Long, stream: Long, firstId: Long, shape: Shape,
           allowGarbled: Boolean): SalesRows = {
    val rnd = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)
    val cdf = zipfCdf(shape.products, shape.zipfS)
    val n = shape.rows
    val out = SalesRows(new Array[Long](n), new Array[Long](n), new Array[Double](n),
      new Array[Double](n), new Array[Int](n), new Array[Byte](n))
    // a fixed permutation of product ranks, so the hot products are
    // spread over the id range instead of being ids 1, 2, 3, …
    val perm = Array.tabulate(shape.products)(identity)
    val prnd = new java.util.SplittableRandom(seed)
    var j = perm.length - 1
    while (j > 0) {
      val k = prnd.nextInt(j + 1); val t = perm(j); perm(j) = perm(k); perm(k) = t; j -= 1
    }
    var i = 0
    while (i < n) {
      out.saleId(i) = firstId + i
      val u = rnd.nextDouble()
      var rank = java.util.Arrays.binarySearch(cdf, u)
      if (rank < 0) rank = -rank - 1
      out.productId(i) = perm(math.min(rank, shape.products - 1)) + 1L
      out.quantity(i) = 1 + rnd.nextInt(20)
      out.amount(i) = (1 + rnd.nextInt(8000)) * 0.25
      out.day(i) = rnd.nextInt(Days)
      if (rnd.nextDouble() < shape.dirtyFrac) {
        val kinds = if (allowGarbled) 8 else 5
        rnd.nextInt(kinds) match {
          case 0 => out.quantity(i) = Double.NaN
          case 1 => out.amount(i) = Double.NaN
          case 2 => out.day(i) = -1
          case 3 => out.quantity(i) = -out.quantity(i) + 1 // 0 or negative
          case 4 => out.amount(i) = -out.amount(i)
          case g => out.garbled(i) = (g - 4).toByte
        }
      }
      i += 1
    }
    out
  }

  /** Adds the clean rows' totals into `acc` (product → (quantity, amount)). */
  def fold(rows: SalesRows, acc: scala.collection.mutable.Map[Long, (Double, Double)]): Unit = {
    var i = 0
    while (i < rows.size) {
      if (rows.isClean(i)) {
        val p = rows.productId(i)
        val (q, a) = acc.getOrElse(p, (0.0, 0.0))
        acc(p) = (q + rows.quantity(i), a + rows.amount(i))
      }
      i += 1
    }
  }

  private def num(v: Double): String =
    if (v.isNaN) "" else if (v == math.rint(v)) v.toLong.toString else v.toString

  /** The in-store CSV text (header + one line per row). */
  def writeCsv(rows: SalesRows, path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      w.write("sale_id,product_id,quantity,sale_amount,sale_date\n")
      var i = 0
      while (i < rows.size) {
        val g = rows.garbled(i)
        val sb = new java.lang.StringBuilder(48)
        sb.append(rows.saleId(i)).append(',').append(rows.productId(i)).append(',')
        sb.append(if (g == 1) "n/a" else num(rows.quantity(i))).append(',')
        sb.append(if (g == 2) "x7" else num(rows.amount(i))).append(',')
        if (g == 3) sb.append("2024-13-45")
        else if (rows.day(i) >= 0) sb.append(Epoch.plusDays(rows.day(i)).toString)
        sb.append('\n')
        w.write(sb.toString)
        i += 1
      }
    } finally w.close()
  }

  /** Inserts the rows into an existing JDBC table whose columns are
    * listed in schema order (sale_id, product_id, quantity,
    * sale_amount, sale_date). */
  def insertJdbc(rows: SalesRows, conn: java.sql.Connection, insertSql: String): Unit = {
    conn.setAutoCommit(false)
    val ps = conn.prepareStatement(insertSql)
    try {
      var i = 0
      while (i < rows.size) {
        ps.setLong(1, rows.saleId(i))
        ps.setLong(2, rows.productId(i))
        if (rows.quantity(i).isNaN) ps.setNull(3, java.sql.Types.DOUBLE) else ps.setDouble(3, rows.quantity(i))
        if (rows.amount(i).isNaN) ps.setNull(4, java.sql.Types.DOUBLE) else ps.setDouble(4, rows.amount(i))
        if (rows.day(i) < 0) ps.setNull(5, java.sql.Types.DATE)
        else ps.setDate(5, java.sql.Date.valueOf(Epoch.plusDays(rows.day(i))))
        ps.addBatch()
        i += 1
        if (i % 5000 == 0) ps.executeBatch()
      }
      ps.executeBatch()
      conn.commit()
    } finally { ps.close(); conn.setAutoCommit(true) }
  }

  /** Digest of every field of every row, for the determinism test. */
  def digest(rows: SalesRows): Long = {
    var h = 1125899906842597L
    var i = 0
    while (i < rows.size) {
      h = 31 * h + rows.saleId(i)
      h = 31 * h + rows.productId(i)
      h = 31 * h + java.lang.Double.doubleToLongBits(rows.quantity(i))
      h = 31 * h + java.lang.Double.doubleToLongBits(rows.amount(i))
      h = 31 * h + rows.day(i)
      h = 31 * h + rows.garbled(i)
      i += 1
    }
    h
  }
}
