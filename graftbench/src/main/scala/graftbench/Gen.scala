package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every input a workload feeds the library comes
  * from here, as a pure function of the seed: the same seed gives the same
  * rows, element for element, so two runs of one seed measure the same work.
  *
  * The tables follow the library's testdata schema (`documents`,
  * `embeddings`), so the registered query rows read them unchanged. The
  * shapes mirror the sf0.1 testdata: a 30-word vocabulary drawn uniformly,
  * 10–100 words per document, five languages, twenty sources, and unit
  * embeddings with a label in [0, 10).
  */
object Gen {

  val Vocabulary: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  /** (language, cumulative weight) — en dominates as in the testdata. */
  private val Langs = Array("en" -> 0.41, "zh" -> 0.56, "es" -> 0.71,
    "fr" -> 0.86, "de" -> 1.0)

  final case class Doc(docId: Long, text: String, lang: String, source: String)
  final case class Vec(vecId: Long, emb: Array[Float], label: Int)

  /** One stream of draws per (seed, purpose), so adding draws to one
    * generator never shifts another's. */
  def rng(seed: Long, purpose: String): java.util.SplittableRandom =
    new java.util.SplittableRandom(seed * 1000003L + purpose.hashCode.toLong)

  def words(r: java.util.SplittableRandom, n: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      if (i > 0) sb += ' '
      sb ++= Vocabulary(r.nextInt(Vocabulary.length))
      i += 1
    }
    sb.toString
  }

  def lang(r: java.util.SplittableRandom): String = {
    val u = r.nextDouble()
    Langs.find(u < _._2).getOrElse(Langs.last)._1
  }

  def doc(r: java.util.SplittableRandom, id: Long): Doc =
    Doc(id, words(r, 10 + r.nextInt(91)), lang(r), "src" + (id % 20))

  def docs(seed: Long, purpose: String, ids: Seq[Long]): Seq[Doc] = {
    val r = rng(seed, purpose)
    ids.map(doc(r, _))
  }

  def unit(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `n` unit vectors in groups of `group` around seeded random centres (a
    * member is its centre plus noise of norm `spread`), the way real
    * embeddings cluster by topic. A vector's exact top-10 is then mostly
    * its own group, so recall@k measures a search rather than ties among
    * vectors that are all about equally far apart; and the groups are loose
    * enough that a k-NN graph still links across them (with tight groups
    * every node's 8 nearest neighbours are its group mates and the graph
    * falls apart into islands no walk can cross). */
  def vectors(seed: Long, n: Int, dim: Int, group: Int = 10,
      spread: Double = 0.8): Seq[Vec] = {
    val r = rng(seed, "vectors")
    val s = spread / math.sqrt(dim.toDouble)
    (0 until n).grouped(group).flatMap { ids =>
      val centre = unit(Array.fill(dim)(gaussian(r)))
      ids.map(i => Vec(i.toLong, unit(centre.map(x => x + s * gaussian(r))), r.nextInt(10)))
    }.toSeq
  }

  /** A query near corpus vector `src`: the vector plus Gaussian noise of
    * norm about `noise`, renormalised, so `src` is its exact nearest
    * neighbour while the rest of its top-k is a real search. */
  def nearQuery(r: java.util.SplittableRandom, src: Array[Float],
      noise: Double): Array[Float] = {
    val s = noise / math.sqrt(src.length.toDouble)
    unit(src.map(x => x + s * gaussian(r)))
  }

  def gaussian(r: java.util.SplittableRandom): Double = {
    // Box–Muller on the SplittableRandom stream (java.util.Random's
    // nextGaussian would need a second, differently seeded generator)
    val u1 = 1.0 - r.nextDouble()
    val u2 = r.nextDouble()
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** A curation corpus and the duplicate structure planted in it. */
  final case class Planted(docs: Seq[Doc], exactClusters: Int, nearClusters: Int,
      plantedDocs: Int)

  /** `nBase` fresh documents, then `exact` clusters of 2–4 verbatim copies
    * of a base document and `near` clusters of 2–4 copies that each differ
    * from their base in one word. Copies get ids after the base range. */
  def curationCorpus(seed: Long, nBase: Int, exact: Int, near: Int): Planted = {
    val r = rng(seed, "curation")
    val base = (0 until nBase).map(i => doc(r, i.toLong))
    var next = nBase.toLong
    val copies = Seq.newBuilder[Doc]
    val sources = r.ints(0, nBase).distinct().limit((exact + near).toLong).toArray
    sources.zipWithIndex.foreach { case (src, i) =>
      val b = base(src)
      (0 until 2 + r.nextInt(3)).foreach { _ =>
        val text = if (i < exact) b.text else {
          val ws = b.text.split(' ')
          ws(r.nextInt(ws.length)) = Vocabulary(r.nextInt(Vocabulary.length))
          ws.mkString(" ")
        }
        copies += Doc(next, text, b.lang, "src" + (next % 20))
        next += 1
      }
    }
    val planted = copies.result()
    Planted(base ++ planted, exact, near, planted.size)
  }

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = true)),
    StructField("label", IntegerType)))

  def docFrame(spark: SparkSession, ds: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      ds.map(d => Row(d.docId, d.text, d.lang, d.source, d.text.length.toLong)), 1),
      DocSchema)

  def vecFrame(spark: SparkSession, vs: Seq[Vec]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      vs.map(v => Row(v.vecId, v.emb.toSeq, v.label)), 1), VecSchema)

  /** Write a table as ONE parquet file under `<dir>/<name>.parquet`, the
    * testdata layout the registered rows read. */
  def writeTable(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = s"$dir/_$name.tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(s"$dir/$name.parquet"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    Main.deleteTree(new java.io.File(tmp))
  }

  /** A stable digest of generated rows, for the determinism self-test and
    * the run stamp. */
  def digest(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach { l =>
      md.update(l.getBytes(java.nio.charset.StandardCharsets.UTF_8)); md.update(10.toByte)
    }
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def docLines(ds: Seq[Doc]): Iterator[String] =
    ds.iterator.map(d => s"${d.docId}\t${d.text}\t${d.lang}\t${d.source}")

  def vecLines(vs: Seq[Vec]): Iterator[String] =
    vs.iterator.map(v => s"${v.vecId}\t${v.label}\t" +
      v.emb.map(f => java.lang.Float.floatToIntBits(f)).mkString(","))
}
