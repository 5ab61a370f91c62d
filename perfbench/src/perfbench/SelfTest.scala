package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Checks of the benchmark's own input generator, run without Spark:
  * the same seed must give identical inputs (rows, CSV bytes and
  * expected totals) and another seed different ones. */
object SelfTest {
  private def inputs(seed: Long, dir: Path): (Long, Seq[Byte], Map[Long, (Double, Double)]) = {
    val shape = SalesGen.Shape(rows = 20000, products = 2000, dirtyFrac = 0.03, zipfS = 1.1)
    val online = SalesGen.rows(seed, 1, 1L, shape, allowGarbled = false)
    val store = SalesGen.rows(seed, 2, 1L + shape.rows, shape, allowGarbled = true)
    val csv = dir.resolve(s"selftest_$seed.csv")
    SalesGen.writeCsv(store, csv)
    val bytes = Files.readAllBytes(csv).toSeq
    Files.delete(csv)
    val acc = mutable.Map.empty[Long, (Double, Double)]
    SalesGen.fold(online, acc); SalesGen.fold(store, acc)
    (SalesGen.digest(online) * 31 + SalesGen.digest(store), bytes, acc.toMap)
  }

  def run(out: Path): Unit = {
    val dir = Files.createTempDirectory(out.toAbsolutePath.getParent, "selftest")
    val a = inputs(7, dir)
    val b = inputs(7, dir)
    val c = inputs(8, dir)
    Files.delete(dir)
    val shape = SalesGen.Shape(rows = 200000, products = 5000, dirtyFrac = 0.03, zipfS = 1.1)
    val big = SalesGen.rows(7, 1, 1L, shape, allowGarbled = true)
    val dirty = (0 until big.size).count(i => !big.isClean(i)).toDouble / big.size
    val counts = big.productId.groupBy(identity).map(_._2.length).toSeq.sorted.reverse
    Json.write(out, Map(
      "same_seed_rows_equal" -> (a._1 == b._1),
      "same_seed_csv_equal" -> (a._2 == b._2),
      "same_seed_totals_equal" -> (a._3 == b._3),
      "other_seed_rows_differ" -> (a._1 != c._1),
      "other_seed_csv_differ" -> (a._2 != c._2),
      "other_seed_totals_differ" -> (a._3 != c._3),
      "dirty_frac" -> dirty,
      "top1_product_share" -> counts.head.toDouble / big.size,
      "distinct_products" -> counts.size))
  }
}
