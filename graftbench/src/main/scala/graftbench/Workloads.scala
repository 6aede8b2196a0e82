package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ingest.{Compaction, IngestPipeline}
import graft.text.Chunker
import graft.vector.{Embedding, GraphAnn, IndexBuilder, ProductQuantization}

/** What a run shares: the session, its own fixture root, the seed and the
  * recorder. `data` holds the generated tables, `fixtures` every index
  * the harness builds; the library's own fixtures land under
  * `java.io.tmpdir`, which the launcher points inside `root` too. */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
    val rec: Recorder) {
  val data = s"$root/data"
  val fixtures = s"$root/fixtures"
  /** Per-layer figures a workload measures itself (build, append, …). */
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Digests of the generated inputs, recall per family and other run facts, for the stamp. */
  val notes = mutable.LinkedHashMap.empty[String, String]
  def addLayer(k: String, v: Double): Unit = layer(k) = layer.getOrElse(k, 0.0) + v
  def timed[A](k: String)(f: => A): A = {
    val s = System.nanoTime()
    try f finally addLayer(k, (System.nanoTime() - s) / 1e9)
  }
}

/** One workload: set-up (untimed for ops, measured as `setup_s`) and a
  * cycle of ops that a run repeats a fixed number of times. A cycle holds
  * every op kind of the workload in fixed proportion, in a seeded order,
  * so every run measures the same mix and only the inputs differ by seed. */
trait Workload {
  def setup(c: Ctx): Unit
  def cycle(c: Ctx, n: Int): Unit
  /** Nominal seconds of one cycle on four cores. */
  def cycleSeconds: Double = 1.0
  /** Whether an op kind is a query (a read a client waits on). */
  def isQuery(kind: String): Boolean = false
  /** Latencies of the workload's write batches, when it has any. */
  def batches(ops: Seq[OpRec]): Seq[Double] = Nil
  /** Input documents one cycle processes (0 when the workload only reads). */
  def docsPerCycle: Int
  /** Registered rows whose reference answers the oracle checks. */
  def references: Map[String, DataFrame]
  /** Checks that only hold over a whole run (recall floors); returns the
    * op kinds that failed them. */
  def runChecks(c: Ctx): Map[String, String] = Map.empty
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "retrieve" => new Retrieve
    case "ingest" => new Ingest
    case "curate" => new Curate
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (retrieve, ingest, curate)")
  }

  /** A canonical text form of collected rows, order-insensitive, used to
    * check that every repeat of a registered row returns its reference. */
  def canonical(rows: Array[Row]): String =
    Gen.digest(rows.map(_.toSeq.map(v => String.valueOf(v match {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case o => o
    })).mkString("\u0001")).sorted.iterator)

  /** Registered rows as ops: the first (untimed, warm-up) call stores the
    * reference answer; every timed repeat must equal it. */
  final class Rows(names: Seq[String]) {
    private val ref = mutable.LinkedHashMap.empty[String, (String, DataFrame)]
    def frames: Map[String, DataFrame] = ref.map { case (k, v) => k -> v._2 }.toMap

    def warm(c: Ctx, name: String): Unit = c.rec.step(s"warm:$name") {
      val df = SparkEntry.queries(name)(c.spark, c.data)
      val rows = df.collect()
      ref(name) = (canonical(rows),
        c.spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema))
    }

    def run(c: Ctx, name: String): OpRec =
      c.rec.op(name)(ph => ph.collect(SparkEntry.queries(name)(c.spark, c.data))) { rows =>
        val got = canonical(rows)
        if (got == ref(name)._1) None
        else Some(s"answer differs from the oracle-checked reference (${rows.length} rows)")
      }
    def kinds: Seq[String] = names
  }

  def shuffled[A](seed: Long, n: Int, xs: Seq[A]): Seq[A] =
    new scala.util.Random(seed * 7919L + n).shuffle(xs)

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0
    var i = 0
    while (i < a.length) { d += a(i).toDouble * b(i); i += 1 }
    d
  }

  /** Exact top-k ids by cosine (vectors are unit length), ties by id. */
  def exactTopK(vs: Seq[Gen.Vec], q: Array[Float], k: Int): Seq[Long] =
    vs.map(v => (v.vecId, cosine(v.emb, q)))
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  /** What every ANN answer must be, whatever its recall: `k` distinct ids
    * of the corpus, each scored with its true cosine to the query (the
    * families all re-score exactly; 1e-5 allows for float accumulation and
    * rounding to six places). Row order is not part of it: the served walk
    * returns its rows sorted by id. */
  def annAnswerError(rows: Array[Row], emb: Long => Option[Array[Float]],
      q: Array[Float], k: Int): Option[String] = {
    val got = rows.map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score")))
    val wrong = got.collect { case (id, s) if emb(id).forall(e => math.abs(cosine(e, q) - s) > 1e-5) =>
      s"$id scored $s, cosine ${emb(id).map(cosine(_, q))}" }
    if (got.length != k) Some(s"${got.length} rows, expected $k")
    else if (got.map(_._1).distinct.length != k) Some(s"repeated ids ${got.map(_._1).toSeq}")
    else wrong.headOption
  }

  /** Recall@10 floors the library's specs pin, per index kind: a graph walk
    * keeps at least 7 of the exact 10, a partition-pruned scan at least 3.
    * Each floor holds on the mean over a run's queries of that kind. */
  def recallFloor(kind: String): (String, Double) =
    if (kind.startsWith("hnsw") || kind.startsWith("nsw")) ("graph", 0.7) else ("pruned", 0.3)

  def floorFailures(c: Ctx, recall: Seq[(String, Double)]): Map[String, String] = {
    if (recall.nonEmpty) c.layer("vector.recall_at_10") = recall.map(_._2).sum / recall.size
    recall.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, rs) =>
      c.notes(s"recall_at_10.$k") = f"${rs.map(_._2).sum / rs.size}%.3f over ${rs.size} queries"
    }
    recall.groupBy(p => recallFloor(p._1)).flatMap { case ((index, floor), rs) =>
      val mean = rs.map(_._2).sum / rs.size
      if (mean >= floor) Nil
      else rs.map(_._1).distinct.map(_ -> f"$index mean recall@10 $mean%.3f below the floor $floor")
    }
  }
}

import Workloads._

/** Read-only serving over standing state: a corpus of 2000 vectors (64
  * dimensions) and 5000 documents, shaped like sf0.1, that fits every
  * cache. Vector queries go through each ANN family's public search; the
  * registered rows cover the RAG path and the Catalyst rewrite rules. */
final class Retrieve extends Workload {
  val NVec = 2000
  val NDoc = 5000
  val Dim = 64
  val K = 10
  /** Query noise norm: a query stays nearest to its source vector. */
  val Noise = 0.2

  private val rows = new Rows(Seq("rag_pipeline_topk", "hybrid_rrf_fusion",
    "bm25_indexed_topn", "maxsim_topk", "knn_exact_topk",
    "ann_rewrite_filtered_topk"))
  private val vectorKinds = Seq("hnswSearch", "nswSearch", "hnswServedSearch",
    "ivfTopK", "ivfPqIndexTopK", "lshTopK")
  private val recall = mutable.ArrayBuffer.empty[(String, Double)]

  private var vecs: Seq[Gen.Vec] = Nil
  private var corpus: DataFrame = _
  private def hnsw(c: Ctx) = s"${c.fixtures}/hnsw"
  private def ivfpq(c: Ctx) = s"${c.fixtures}/ivfpq"
  private val lsh = graft.ops.AnnIndex.defaultLsh
  private var qrng: java.util.SplittableRandom = _

  override def cycleSeconds: Double = 7.0
  override def isQuery(kind: String): Boolean = true
  def docsPerCycle: Int = 0
  def references: Map[String, DataFrame] = rows.frames

  def setup(c: Ctx): Unit = {
    c.rec.step("generate") {
      vecs = Gen.vectors(c.seed, NVec, Dim)
      val docs = Gen.docs(c.seed, "documents", 0L until NDoc.toLong)
      c.notes("embeddings") = Gen.digest(Gen.vecLines(vecs))
      c.notes("documents") = Gen.digest(Gen.docLines(docs))
      Gen.writeTable(Gen.vecFrame(c.spark, vecs), c.data, "embeddings")
      Gen.writeTable(Gen.docFrame(c.spark, docs), c.data, "documents")
    }
    corpus = c.spark.read.parquet(s"${c.data}/embeddings.parquet")
      .select("vec_id", "embedding")
    c.rec.step("build:hnsw") {
      c.timed("vector.build_s")(GraphAnn.buildHnswGraph(corpus, "embedding", "vec_id",
        lsh, m = 8, hnsw(c)))
    }
    c.rec.step("build:ivfpq") {
      c.timed("vector.build_s")(ProductQuantization.buildIvfPqIndex(corpus, "embedding",
        numClusters = 16, seed = 42L, ivfpq(c)))
    }
    qrng = Gen.rng(c.seed, "queries")
    // untimed warm-up: one call of every op kind, cold fixtures included
    // (the registered rows build their BM25 postings and filtered-ANN
    // index here); the registered rows' answers become the run's references
    vectorKinds.foreach(k => c.rec.step(s"warm:$k")(search(c, k, query(0)).collect()))
    rows.kinds.foreach(rows.warm(c, _))
    recall.clear()
  }

  private def query(src: Int): (Int, Array[Float]) =
    src -> Gen.nearQuery(qrng, vecs(src).emb, Noise)

  private def search(c: Ctx, kind: String, q: (Int, Array[Float])): DataFrame = {
    val v = q._2
    kind match {
      case "hnswSearch" =>
        GraphAnn.hnswSearch(c.spark, hnsw(c), corpus, "embedding", "vec_id", v, K)
      case "nswSearch" =>
        GraphAnn.nswSearch(c.spark, hnsw(c), corpus, "embedding", "vec_id", v, K)
      case "hnswServedSearch" =>
        GraphAnn.hnswServedSearch(c.spark, hnsw(c), corpus, "embedding", "vec_id",
          Seq(0L -> v), K).select("vec_id", "score")
      case "ivfTopK" =>
        IndexBuilder.ivfTopK(corpus, "embedding", "vec_id", v, K,
          numClusters = 16, nProbe = 4, seed = 42L)
      case "ivfPqIndexTopK" =>
        ProductQuantization.ivfPqIndexTopK(c.spark, ivfpq(c), "embedding", "vec_id",
          v, K, nProbe = 4)
      case "lshTopK" =>
        IndexBuilder.lshTopK(corpus, "embedding", "vec_id", lsh, v, K, radius = 2)
    }
  }

  /** Every op kind once per cycle: no measured session mix says how often
    * a client asks a single vector lookup against a whole RAG call, so no
    * kind weighs more than another. */
  def cycle(c: Ctx, n: Int): Unit =
    shuffled(c.seed, n, vectorKinds ++ rows.kinds).foreach { kind =>
      if (rows.kinds.contains(kind)) rows.run(c, kind)
      else {
        val q = query(qrng.nextInt(NVec))
        c.rec.op(kind)(ph => ph.collect(search(c, kind, q))) { res =>
          val got = res.map(_.getAs[Long]("vec_id")).toSet
          recall += kind -> exactTopK(vecs, q._2, K).count(got.contains).toDouble / K
          annAnswerError(res, id => vecs.lift(id.toInt).map(_.emb), q._2, K)
        }
      }
    }

  override def runChecks(c: Ctx): Map[String, String] = floorFailures(c, recall.toSeq)
}

/** Writes beside reads: each cycle ingests a seeded document batch (a
  * fixed share re-sends ids already ingested), appends the new chunk
  * vectors to a standing HNSW ladder and IVF index, and queries the grown
  * indexes; every second cycle then compacts the ingest index, so the
  * cycles between compactions query a growing pile of bucket files. Every
  * append makes a new index version, so resident pins and fixtures miss.
  *
  * The batch size, the re-sent share and the queries per cycle are a
  * chosen shape, not a measured one: batches small enough that a run
  * holds two cycles, two queries of each kind per cycle. */
final class Ingest extends Workload {
  val Batch = 100
  val Resent = 20
  val Dim = 64
  val Queries = 2
  /** 16 LSH buckets: the index holds a few thousand chunks, and compaction
    * runs one Spark job per bucket (64 buckets made it 260 jobs and half
    * of every cycle). */
  val LshBits = 4

  private var cfg: IngestPipeline.Config = _
  private def hnsw(c: Ctx) = s"${c.fixtures}/chunk_hnsw"
  private def ivf(c: Ctx) = s"${c.fixtures}/chunk_ivf"
  /** Candidate generation of the chunk graph (independent of the ingest
    * index's own LSH buckets). */
  private lazy val lsh = new IndexBuilder.RandomHyperplaneLsh(Dim, 6, 42L)
  private val ingested = mutable.ArrayBuffer.empty[Long]
  private var nextId = 0L
  private var rng: java.util.SplittableRandom = _

  override def cycleSeconds: Double = 10.0
  private val queryKinds = Set("IngestPipeline.search", "hnswSearch")
  override def isQuery(kind: String): Boolean = queryKinds(kind)
  /** The write part of each cycle: ingest, appends and compaction. */
  override def batches(ops: Seq[OpRec]): Seq[Double] =
    ops.filterNot(o => isQuery(o.kind)).groupBy(_.cycle).values.map(_.map(_.seconds).sum).toSeq
  def docsPerCycle: Int = Batch + Resent
  def references: Map[String, DataFrame] = Map.empty

  /** Chunk vectors of the ingest index, keyed `doc_id·1000 + chunk_number`
    * so the graph and IVF layers get the numeric ids they index. */
  private def chunkVectors(c: Ctx, docIds: Option[Seq[Long]]): DataFrame = {
    val idx = c.spark.read.parquet(cfg.indexPath)
    docIds.fold(idx)(ids => idx.filter(col("doc_id").isin(ids: _*)))
      .select((col("doc_id") * 1000L + col("chunk_number")).as("vec_id"),
        col("embedding"))
  }

  /** The next batch: `Batch` new documents, then `Resent` distinct ids
    * drawn from those already ingested (with fresh text, which must be
    * ignored). */
  private def nextBatch(): (Seq[Gen.Doc], Seq[Gen.Doc]) = {
    val fresh = (0 until Batch).map { _ => nextId += 1; Gen.doc(rng, nextId) }
    val resent = if (ingested.isEmpty) Nil
      else Iterator.continually(ingested(rng.nextInt(ingested.size))).distinct
        .take(Resent).map(Gen.doc(rng, _)).toSeq
    (fresh, resent)
  }

  private def writeBatch(c: Ctx, n: Int, docs: Seq[Gen.Doc]): DataFrame = {
    Gen.writeTable(Gen.docFrame(c.spark, docs), c.data, s"batch_$n")
    c.spark.read.parquet(s"${c.data}/batch_$n.parquet")
  }

  def setup(c: Ctx): Unit = {
    rng = Gen.rng(c.seed, "ingest")
    cfg = IngestPipeline.Config(dim = Dim, lshBits = LshBits,
      indexPath = s"${c.fixtures}/ingest_index",
      statePath = s"${c.fixtures}/ingest_state")
    val (first, _) = nextBatch()
    c.rec.step("ingest:initial") {
      IngestPipeline.run(writeBatch(c, 0, first), cfg)
      ingested ++= first.map(_.docId)
    }
    val vecs = chunkVectors(c, None)
    c.rec.step("build:hnsw") {
      c.timed("vector.build_s")(GraphAnn.buildHnswGraph(vecs, "embedding", "vec_id",
        lsh, m = 8, hnsw(c)))
    }
    c.rec.step("build:ivf") {
      c.timed("vector.build_s")(IndexBuilder.buildIvfIndex(vecs, "embedding",
        numClusters = 8, seed = 42L, ivf(c)))
    }
  }

  def cycle(c: Ctx, n: Int): Unit = {
    val (fresh, resent) = nextBatch()
    // the harness's own Spark work gets spans too, so `untagged` counts
    // only work nobody can account for
    val docs = c.rec.span("input:batch", "harness") {
      writeBatch(c, n + 1, shuffled(c.seed, n, fresh ++ resent))
    }._1
    val expectChunks = c.timed("text.chunk_s") {
      fresh.map(d => Chunker.split(d.text, cfg.chunkSize, cfg.overlap)
        .count(_.trim.nonEmpty)).sum
    }
    c.addLayer("text.docs", fresh.size)
    c.addLayer("text.chunks", expectChunks)
    val embedded = c.spark.sparkContext.longAccumulator("graftbench.embedded")
    val filesBefore = dataFiles(c)
    c.rec.op("ingest_run") { _ =>
      c.timed("ingest.run_s")(IngestPipeline.run(docs, cfg, Some(embedded)))
    } { s =>
      c.addLayer("ingest.embedded", s.embedded.toDouble)
      c.addLayer("ingest.chunks_new", s.chunksNew.toDouble)
      val want = IngestPipeline.RunStats(fresh.size + resent.size, fresh.size,
        expectChunks, expectChunks)
      if (s == want) None else Some(s"RunStats $s, expected $want")
    }
    c.addLayer("ingest.files_written", (dataFiles(c) - filesBefore).toDouble)
    ingested ++= fresh.map(_.docId)
    val newVecs = c.rec.span("input:new-vectors", "harness") {
      chunkVectors(c, Some(fresh.map(_.docId)))
    }._1
    c.rec.op("appendToHnswGraph") { _ =>
      c.timed("vector.append_s")(GraphAnn.appendToHnswGraph(c.spark, newVecs,
        "embedding", "vec_id", lsh, m = 8, hnsw(c), corpus = chunkVectors(c, None)))
    }(_ => None)
    c.rec.op("appendToIvfIndex") { _ =>
      c.timed("vector.append_s")(IndexBuilder.appendToIvfIndex(newVecs, "embedding", ivf(c)))
    }(_ => None)
    // planted queries: a new chunk's own text must rank it first in the
    // LSH-probed search; the graph walk is held to its recall floor against
    // the exact top-10 of the grown index
    val grown = c.rec.span("check:collect-index", "harness") {
      chunkVectors(c, None).collect()
    }._1.map(r => Gen.Vec(r.getLong(0), r.getSeq[Float](1).toArray, 0)).toSeq
    val byId = grown.map(v => v.vecId -> v.emb).toMap
    (0 until Queries).foreach { _ =>
      val d = fresh(rng.nextInt(fresh.size))
      val chunks = Chunker.split(d.text, cfg.chunkSize, cfg.overlap).filter(_.trim.nonEmpty)
      val ci = rng.nextInt(chunks.size)
      val want = s"${d.docId}_chunk_${ci + 1}"
      c.rec.op("IngestPipeline.search") { ph =>
        ph.collect(IngestPipeline.search(c.spark, cfg, chunks(ci), k = 10))
      } { res =>
        val top = res.headOption.map(r => (r.getAs[String]("chunk_id"), r.getAs[Double]("score")))
        val tied = res.filter(_.getAs[Double]("score") == top.map(_._2).getOrElse(-1.0))
          .map(_.getAs[String]("chunk_id"))
        if (top.exists(_._2 >= 0.999999) && tied.contains(want)) None
        else Some(s"planted chunk $want not first: ${top.getOrElse("no rows")}")
      }
      val qv = Embedding.hashingEmbed(chunks(ci), Dim)
      c.rec.op("hnswSearch") { ph =>
        ph.collect(GraphAnn.hnswSearch(c.spark, hnsw(c), chunkVectors(c, None),
          "embedding", "vec_id", qv, 10))
      } { res =>
        val got = res.map(_.getAs[Long]("vec_id")).toSet
        recall += "hnswSearch" -> exactTopK(grown, qv, 10).count(got.contains).toDouble / 10
        annAnswerError(res, byId.get, qv, 10)
      }
    }
    if (n % 2 == 0) c.rec.op("Compaction.compactPartitioned") { _ =>
      c.timed("ingest.compact_s")(Compaction.compactPartitioned(c.spark, cfg.indexPath))
    }(_ => None)
  }

  private def dataFiles(c: Ctx): Long = Main.countFiles(cfg.indexPath, _.endsWith(".parquet"))

  private val recall = mutable.ArrayBuffer.empty[(String, Double)]

  override def runChecks(c: Ctx): Map[String, String] = {
    c.layer("ingest.index_files") = dataFiles(c).toDouble
    floorFailures(c, recall.toSeq)
  }
}

/** Training-data curation: whole-corpus passes of the curation rows over a
  * generated corpus larger than sf0.1 with planted exact and near
  * duplicate clusters. Compute- and shuffle-bound; the vector index layers
  * do no work here. */
final class Curate extends Workload {
  val NBase = 6000
  val ExactClusters = 60
  val NearClusters = 60

  private val rows = new Rows(Seq("dedup_exact", "minhash_near_dupes",
    "dedup_components", "dedup_canonical", "dedup_span_removal",
    "dsir_importance_weights", "text_quality", "pii_redaction",
    "chunk_docs_200", "streaming_dedup_admission"))
  var planted: Gen.Planted = _

  override def cycleSeconds: Double = 16.0
  override def batches(ops: Seq[OpRec]): Seq[Double] = ops.map(_.seconds)
  def docsPerCycle: Int = planted.docs.size * rows.kinds.size
  def references: Map[String, DataFrame] = rows.frames

  def setup(c: Ctx): Unit = {
    c.rec.step("generate") {
      planted = Gen.curationCorpus(c.seed, NBase, ExactClusters, NearClusters)
      val vecs = Gen.vectors(c.seed, 2000, 64)
      c.notes("documents") = Gen.digest(Gen.docLines(planted.docs))
      c.notes("embeddings") = Gen.digest(Gen.vecLines(vecs))
      c.notes("planted") = s"${planted.exactClusters} exact and " +
        s"${planted.nearClusters} near-duplicate clusters, ${planted.plantedDocs} copies"
      Gen.writeTable(Gen.docFrame(c.spark, planted.docs), c.data, "documents")
      Gen.writeTable(Gen.vecFrame(c.spark, vecs), c.data, "embeddings")
    }
    rows.kinds.foreach(rows.warm(c, _))
  }

  def cycle(c: Ctx, n: Int): Unit =
    shuffled(c.seed, n, rows.kinds).foreach(rows.run(c, _))
}
