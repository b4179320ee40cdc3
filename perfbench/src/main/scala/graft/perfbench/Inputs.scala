package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ingest.PageSynth

/** Every input of a run, derived from the workload seed alone. Pages come
  * from [[PageSynth]] (page i is a pure function of (i, seed, vocabulary
  * size)); query texts are drawn from the same entity vocabulary and verbs.
  */
object Inputs {

  /** Decorrelated sub-seed for one use of the workload seed. */
  def subSeed(seed: Long, salt: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(s"$seed/$salt").toLong * 1000003L + seed

  /** Pages [from, until) as one `content` column: the shape `Indexer.index`
    * and `Indexer.delete` take.
    */
  def pages(spark: SparkSession, seed: Long, from: Long, until: Long,
            nEntities: Int): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1L, spark.sparkContext.defaultParallelism)
      .map(i => PageSynth.page(i, seed, nEntities, 64).text)
      .toDF("content")
  }

  /** The same pages as driver-side texts (the ingest workload tracks its
    * live corpus by text).
    */
  def pageTexts(seed: Long, from: Long, until: Long, nEntities: Int): Vector[String] =
    (from until until).map(i => PageSynth.page(i, seed, nEntities, 64).text).toVector

  def textFrame(spark: SparkSession, texts: Seq[String]): DataFrame = {
    import spark.implicits._
    texts.toDF("content")
  }

  /** `n` query texts "<entity> <verb> <entity>" with ids from `firstQid`. */
  def queries(rnd: scala.util.Random, firstQid: Long, n: Int,
              nEntities: Int): Seq[(Long, String)] = {
    val vocab = PageSynth.vocab(nEntities)
    (0 until n).map { i =>
      val a = vocab(rnd.nextInt(nEntities))
      val b = vocab(rnd.nextInt(nEntities))
      (firstQid + i, s"$a ${PageSynth.verbs(rnd.nextInt(PageSynth.verbs.length))} $b")
    }
  }
}
