package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndex, TextAnalysis, Unigram}

/** Round-19 pins for the optimization round's internal changes: the
  * adaptive driver-fold branches must be BIT-identical to their
  * distributed twins (the whole correctness argument of the switch),
  * and the AnnIndex model memo must reload when model files are
  * rewritten in place (the one way the memo could ever serve stale
  * state).
  */
class R19PropertySpec extends SparkSpec {
  import spark.implicits._

  /** A corpus whose word dict exercises merges, ties and repeats:
    * adjacent-pair runs ("aaaa"), cross-word shared pairs, and a
    * deterministic tie on the best-pair count. */
  private def bpeDocs = Seq(
    (1L, "abab abab cdcd"),
    (2L, "aaaa abab cdcd cd"),
    (3L, "zzq abab ababab"),
    (4L, "cdcd cdab")
  ).toDF("doc_id", "text")

  test("bpe driver fold ≡ distributed loop: identical merge table and final vocab state") {
    val docs = bpeDocs
    // driver branch (dict ≪ the 64k switch)
    val (mergesFold, vocabFold) = TextAnalysis.bpeLoop(docs, merges = 6)
    // distributed branch, forced by calling it directly on the same dict
    val dict = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val (mergesDist, vocabDist) = TextAnalysis.bpeLoopDistributed(dict, merges = 6)
    assert(mergesFold === mergesDist)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("word"), col("n"), concat_ws("", col("syms")))
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(vocabFold) === rows(vocabDist))
  }

  test("unigram local init/EM ≡ distributed twins on the same dict") {
    val docs = Seq(
      (1L, "banana bandana ana ban"),
      (2L, "banana nabnab anaban"),
      (3L, "dana ban ana ana")
    ).toDF("doc_id", "text")
    val words = Unigram.wordsOf(docs).localCheckpoint(true)
    val dict = words.as[(String, Long)].collect()
    val vLocal = Unigram.initVocabLocal(dict, vocabSize = 16)
    val vDist = Unigram.initVocab(words, vocabSize = 16)
    assert(vLocal.sortBy(_._1).toSeq === vDist.sortBy(_._1).toSeq)
    val probs = vLocal.map { case (p, c) =>
      p -> (c.toDouble / vLocal.map(_._2).sum).toFloat }.toMap
    val eLocal = Unigram.emRoundLocal(dict, probs)
    val eDist = Unigram.emRound(words, probs)
    assert(eLocal.sortBy(_._1).toSeq === eDist.sortBy(_._1).toSeq)
  }

  test("annindex model memo: append hits the memo, in-place model rewrite misses it") {
    val dir = java.nio.file.Files.createTempDirectory("r19memo").toString
    val emb = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(emb, dir, nlist = 4)
    val first = AnnIndex.loadCentroids(spark, dir)
    // memo hit: same files, same array INSTANCE back
    assert(AnnIndex.loadCentroids(spark, dir) eq first)
    // append touches only vectors/ — the model memo must stay valid
    AnnIndex.appendIvf(
      (100L until 110L).map(i =>
        (i, Array.tabulate(8)(d => ((i * 3 + d) % 11).toFloat)))
        .toDF("vec_id", "embedding"), dir)
    assert(AnnIndex.loadCentroids(spark, dir) eq first)
    // in-place rebuild on a DIFFERENT corpus rewrites centroids —
    // the directory stamp changes and the memo must reload
    val emb2 = (0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 2) % 17).toFloat)))
      .toDF("vec_id", "embedding")
    AnnIndex.buildIvf(emb2, dir, nlist = 4)
    val second = AnnIndex.loadCentroids(spark, dir)
    assert(!(second eq first))
    assert(!second.zip(first).forall { case (a, b) => a.sameElements(b) })
  }

  private def smallIndex(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    AnnIndex.buildIvf((0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 7 + d) % 13).toFloat)))
      .toDF("vec_id", "embedding"), dir, nlist = 4)
    dir
  }

  test("annindex model memo is a SessionMemo entry: a load adds one, " +
    "the context sweep clears it") {
    val dir = smallIndex("memosweep")
    SessionMemo.sweep(spark.sparkContext)
    assert(SessionMemo.entries(spark) === 0)
    AnnIndex.loadCentroids(spark, dir)
    assert(SessionMemo.entries(spark) === 1,
      "the centroids must be memoized in the one session memo")
    SessionMemo.sweep(spark.sparkContext)
    assert(SessionMemo.entries(spark) === 0,
      "the context sweep must evict the model arrays too")
  }

  test("annindex dir stamp is independent of listing order") {
    val statuses = Seq("part-00000.parquet", "_SUCCESS", ".part-00000.crc",
      "part-00001.parquet").zipWithIndex.map { case (n, i) =>
      new org.apache.hadoop.fs.FileStatus(100L + i, false, 1, 128L,
        1000L * i, new org.apache.hadoop.fs.Path(s"/idx/centroids/$n"))
    }
    assert(AnnIndex.stampOf(statuses) === AnnIndex.stampOf(statuses.reverse))
    val grown = statuses.updated(0, new org.apache.hadoop.fs.FileStatus(
      999L, false, 1, 128L, 0L,
      new org.apache.hadoop.fs.Path("/idx/centroids/part-00000.parquet")))
    assert(AnnIndex.stampOf(grown) !== AnnIndex.stampOf(statuses),
      "a changed file length must change the stamp")
  }

  test("annindex in-place rewrite replaces the model entry: one per " +
    "(session, dir)") {
    val dir = smallIndex("memoreplace")
    val session = spark.newSession()
    val first = AnnIndex.loadCentroids(session, dir)
    assert(SessionMemo.entries(session) === 1)
    AnnIndex.buildIvf((0L until 64L).map(i =>
      (i, Array.tabulate(8)(d => ((i * 5 + d * 2) % 17).toFloat)))
      .toDF("vec_id", "embedding"), dir, nlist = 4)
    val second = AnnIndex.loadCentroids(session, dir)
    assert(!(second eq first), "the rewrite must reload")
    assert(SessionMemo.entries(session) === 1,
      "the reload must replace the superseded entry, not add one")
  }
}
