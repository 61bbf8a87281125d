package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's one input generator. Every table is a pure function of
  * (workload, seed): it is written once as parquet under `dir`, and the
  * library only ever sees those files read back. */
object Gen {

  /** Left ⋈ right on `key`. Left keys are `0` with probability `hotShare`,
    * else uniform over `1 .. keys·(1 + orphanShare)` (keys past `keys` have
    * no right row). Right has `hotRightRows` rows for key `0` and
    * `rightRowsPerKey` rows for each key `1 .. keys`. Payloads are integers
    * below 2^20, so aggregate sums compare exactly. */
  final case class JoinShape(leftRows: Long, keys: Long, hotShare: Double,
      hotRightRows: Int, rightRowsPerKey: Int, orphanShare: Double)

  /** `clusters` planted near-duplicate clusters, their sizes spread evenly
    * over `minSize..maxSize` documents. A cluster is a chain: each document
    * is the one before it with `edits` more words replaced, so neighbours in
    * the chain are near duplicates while its two ends are unrelated. The
    * rest of the `docs` documents are unrelated. */
  final case class CorpusShape(docs: Int, clusters: Int, minSize: Int, maxSize: Int,
      edits: Int, minWords: Int, maxWords: Int, vocabulary: Int)

  // skew_hot: two thirds of the left rows carry key 0, so it fans out to the
  // cap of 16 fragments. Its 80 right rows are replicated to every fragment,
  // 1200 extra rows per row join (3% of the inputs), and its 1.6M output rows
  // land on one reducer under a plain join, while its input bytes stay far
  // below AQE's skew trigger.
  val SkewHot = JoinShape(leftRows = 30000, keys = 2500, hotShare = 2.0 / 3,
    hotRightRows = 80, rightRowsPerKey = 4, orphanShare = 0.0)
  // skew_inert: fact ⋈ dim on a foreign key, uniform over the dimension, with
  // 5% orphan foreign keys so the outer and anti joins have work to do.
  val SkewInert = JoinShape(leftRows = 100000, keys = 10000, hotShare = 0.0,
    hotRightRows = 1, rightRowsPerKey = 1, orphanShare = 0.05)
  // dedup_lsh: 2-word steps keep neighbours above Jaccard 0.7 on character
  // 5-shingles, so no chain link is an LSH near-miss, while documents more
  // than a few steps apart fall below the 0.5 threshold.
  val Corpus = CorpusShape(docs = 1000, clusters = 40, minSize = 2, maxSize = 40,
    edits = 2, minWords = 20, maxWords = 40, vocabulary = 20000)

  final case class Inputs(tables: Map[String, DataFrame], planted: Map[Long, Long],
      info: Map[String, Any])

  def write(spark: SparkSession, workload: String, seed: Long, dir: String,
      partitions: Int): Inputs = workload match {
    case "skew_hot" => joinTables(spark, SkewHot, seed, dir, partitions)
    case "skew_inert" => joinTables(spark, SkewInert, seed, dir, partitions)
    case "dedup_lsh" => corpus(spark, Corpus, seed, dir, partitions)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  private def joinTables(spark: SparkSession, s: JoinShape, seed: Long, dir: String,
      partitions: Int): Inputs = {
    def h(stream: Int) = xxhash64(col("id"), lit(seed), lit(stream))
    val leftKeys = math.round(s.keys * (1 + s.orphanShare))
    spark.range(0, s.leftRows, 1, partitions).select(
      when(pmod(h(1), lit(1000000L)) < lit(math.round(s.hotShare * 1e6)), lit(0L))
        .otherwise(pmod(h(2), lit(leftKeys)) + 1).as("key"),
      pmod(h(3), lit(1L << 20)).as("pl"))
      .write.parquet(s"$dir/left")
    val rightRows = s.hotRightRows + s.keys * s.rightRowsPerKey
    spark.range(0, rightRows, 1, partitions).select(
      when(col("id") < s.hotRightRows, lit(0L))
        .otherwise((col("id") - s.hotRightRows) % s.keys + 1).as("key"),
      pmod(h(4), lit(1L << 20)).as("pr"))
      .write.parquet(s"$dir/right")
    Inputs(
      Map("left" -> spark.read.parquet(s"$dir/left"), "right" -> spark.read.parquet(s"$dir/right")),
      Map.empty,
      Map("left_rows" -> s.leftRows, "right_rows" -> rightRows, "keys" -> s.keys,
        "hot_share" -> s.hotShare, "hot_right_rows" -> s.hotRightRows,
        "right_rows_per_key" -> s.rightRowsPerKey,
        "orphan_share" -> s.orphanShare))
  }

  private def corpus(spark: SparkSession, s: CorpusShape, seed: Long, dir: String,
      partitions: Int): Inputs = {
    val rng = new java.util.SplittableRandom(seed)
    val vocab = Array.fill(s.vocabulary) {
      Array.fill(3 + rng.nextInt(7))(('a' + rng.nextInt(26)).toChar).mkString
    }
    def word() = vocab(rng.nextInt(vocab.length))
    val lengths = s.maxWords - s.minWords + 1
    def text(words: Int) = Array.fill(words)(word())

    val texts = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    val clusterOf = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (c <- 0 until s.clusters) {
      // The seed picks the words only: cluster sizes and document lengths
      // are the same for every seed, and so is the work of a pass. 13 is
      // prime to the 21 lengths, so lengths do not grow with cluster size.
      val size = s.minSize + c * (s.maxSize - s.minSize) / math.max(s.clusters - 1, 1)
      var doc = text(s.minWords + c * 13 % lengths)
      texts += doc
      clusterOf += c
      // edits walk the word positions in turn, so a step never undoes the last
      var pos = 0
      for (_ <- 1 until size) {
        doc = doc.clone()
        for (_ <- 0 until s.edits) { doc(pos % doc.length) = word(); pos += 1 }
        texts += doc
        clusterOf += c
      }
    }
    while (texts.length < s.docs) {
      texts += text(s.minWords + texts.length % lengths)
      clusterOf += -1
    }

    // ids are a seeded permutation, so cluster members are not adjacent
    val ids = Array.range(1, texts.length + 1).map(_.toLong)
    for (i <- ids.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    val planted = ids.indices.filter(clusterOf(_) >= 0).groupBy(clusterOf(_)).values
      .flatMap { members =>
        val component = members.map(ids(_)).min
        members.map(ids(_) -> component)
      }.toMap

    import spark.implicits._
    ids.indices.map(i => (ids(i), texts(i).mkString(" "))).toDF("id", "text")
      .repartition(partitions).write.parquet(s"$dir/docs")
    Inputs(Map("docs" -> spark.read.parquet(s"$dir/docs")), planted,
      Map("docs" -> texts.length, "clusters" -> s.clusters, "cluster_docs" -> planted.size,
        "max_cluster" -> planted.values.groupBy(identity).values.map(_.size).max,
        "edits" -> s.edits, "words" -> s"${s.minWords}..${s.maxWords}",
        "vocabulary" -> s.vocabulary))
  }
}
