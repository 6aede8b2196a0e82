package graft.vector

import org.apache.spark.SparkContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Graph-based ANN — the NSW shape (Malkov et al. 2014; HNSW's layer 0,
  * and the index family behind DiskANN/Vamana): each vector keeps edges
  * to its ~M nearest neighbors, and a query walks the graph greedily
  * from fixed entry points, converging to its true neighborhood in a
  * handful of hops. Complements the LSH/IVF/PQ families: no bucketing
  * or training, recall comes from connectivity.
  *
  * Scale shape, build (a batch job):
  *  - Candidate pairs come from an LSH-bucket EQUI-JOIN (multi-probe,
  *    plus extra seed rounds at scale — the NN-Descent discipline),
  *    never all-pairs: only bucket-mates ever meet, text/vector payloads
  *    join on 8-byte ids.
  *  - Per-node top-M edges via a window over the node partitioning
  *    (score desc, id asc — bit-deterministic ties).
  *  - Reverse edges are unioned in and re-topped (the HNSW symmetrizing
  *    heuristic), keeping out-degree ≤ 2M while guaranteeing the graph
  *    has no in-only sinks.
  *  - Adjacency persists as (node_id, neighbors array<long>) parquet,
  *    hash-clustered on node_id so frontier fetches prune.
  *
  * Scale shape, query (the serving path):
  *  - Every walk reads ONE resident pin per index version (path,
  *    asOfSeq): each ladder rung's merged adjacency, the corpus
  *    (id, emb) and the tombstone set, collected once and reused across
  *    calls until a mutation moves the stamp (see View). A single query
  *    walks on the driver with no Spark job; a served batch is one Spark
  *    job whose tasks walk in memory.
  *  - E entry points = a prefix of the rung's hash-ordered ids
  *    (deterministic, query-independent — the fixed entry of HNSW
  *    generalized); H bounded hops, each expanding the global best B
  *    visited nodes and scoring their neighbors against the query.
  *  - Driver memory: per pinned index version, (id, emb) for the whole
  *    corpus + each rung's adjacency + the tombstones, for at most 16
  *    versions (LRU). This is the memory a hnswlib serving node needs;
  *    it grows with the corpus, and there is no byte budget and no
  *    fallback path yet.
  *
  * Determinism: seeded hyperplanes, windowed ties by id, fixed E/B/H —
  * identical data in, identical graph and identical search result out.
  */
object GraphAnn {

  /** Path existence through the Hadoop FileSystem of the session — NOT
    * java.io.File, which silently answers false for any non-local
    * filesystem (an hdfs:// or s3a:// graph would degrade to a flat walk
    * or an empty delta without error). Same resolution ResultCache uses
    * for the very same paths.
    */
  private def pathExists(spark: SparkSession, p: String): Boolean = {
    val hp = new org.apache.hadoop.fs.Path(p)
    hp.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(hp)
  }

  /** Recursive delete through the Hadoop FileSystem (sidecar truncation). */
  private def deletePath(spark: SparkSession, p: String): Unit = {
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
  }

  /** Build and persist the NSW adjacency for (idCol, embCol) rows.
    * Candidate generation probes each vector's LSH bucket plus its
    * radius-1 neighbors — the equi-join form of "likely near" — so edge
    * scoring is bounded by bucket occupancy, not corpus size.
    */
  def buildNswGraph(df: DataFrame, embCol: String, idCol: String,
      lsh: IndexBuilder.RandomHyperplaneLsh, m: Int, path: String): Unit = {
    val nodes = df.select(col(idCol).as("id"), col(embCol).as("emb"))
    val home = IndexBuilder.withLshBucket(nodes, "emb", lsh)
    // probe generation is columnar (the lshBatchTopK shape): one signature
    // per row, then a static radius-1 mask explode + XOR — never the
    // per-row probes() UDF, which allocates and sorts a Set per vector
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    val probed = IndexBuilder.withLshBucket(nodes, "emb", lsh, "sig")
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("id"), col("emb"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
    // directed candidate pairs: a probes the buckets its near-misses can
    // live in; join against each bucket's HOME residents only (probe ×
    // home, not probe × probe — keeps the pair count ~ball × occupancy)
    val pairs = probed.as("a")
      .join(home.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        VectorFunctions.cosineUnit(col("a.emb"), col("b.emb")).as("score"))
      .groupBy("src", "dst").agg(max("score").as("score")) // dedup multi-probe hits
    val wSrc = Window.partitionBy("src")
      .orderBy(col("score").desc, col("dst").asc)
    val topM = pairs.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= m).select("src", "dst", "score")
    // symmetrize then re-top at 2M: reverse edges guarantee every node
    // is reachable FROM its neighbors, not only pointed at by them
    val sym = topM.unionByName(
        topM.select(col("dst").as("src"), col("src").as("dst"), col("score")))
      .groupBy("src", "dst").agg(max("score").as("score"))
    val adj = sym.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // total over the input: a node alone in its bucket neighborhood (an
    // outlier, or any node of a sparse upper HNSW layer) still gets a
    // row — with no edges — so membership, entry sampling and search
    // emission see the whole corpus, never just the well-connected part
    val total = nodes.select(col("id").as("node_id"))
      .join(adj, Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    total.repartition(8, col("node_id"))
      .write.mode("overwrite").parquet(path)
  }

  /** Merged adjacency view: the base build (seq 0) overlaid by append
    * deltas at `<path>_delta`, latest-wins per node — the MOR discipline
    * applied to the graph, so appends never rewrite the base files. A
    * delta row with NULL neighbors is a removal marker (written by
    * `foldNswTombstones`): latest-wins resolves it like any other
    * version, then the merged view drops the node entirely.
    */
  // Explicit read schemas: adjacency/tombstone layouts are fixed by the
  // writers above, and letting the reader infer them costs a footer-read
  // Spark job per open — every pin build, append and fold opens the
  // graph, so inference was a job for information the code already has.
  // (seq is the delta leaves' directory-partition column; declaring it
  // long here also replaces the int-discovery + cast dance.)
  private val adjSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("neighbors",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.LongType))))
  private val adjDeltaSchema = adjSchema.add(
    org.apache.spark.sql.types.StructField("seq",
      org.apache.spark.sql.types.LongType))
  private val tombSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("node_id",
      org.apache.spark.sql.types.LongType)))

  def readNswAdjacency(spark: SparkSession, path: String): DataFrame =
    readNswAdjacencyAsOf(spark, path, Long.MaxValue)

  /** The merged view AS OF a delta generation — MOR versioning the graph
    * gets for free: every append/fold lands as a `seq=<n>` leaf, so
    * pinning a version is a partition filter on the delta read (latest-
    * wins then resolves within the pinned prefix). seq 0 is the base
    * build; `maxSeq = Long.MaxValue` is the current view.
    */
  def readNswAdjacencyAsOf(spark: SparkSession, path: String,
      maxSeq: Long): DataFrame = {
    val base = spark.read.schema(adjSchema).parquet(path)
      .withColumn("seq", lit(0L))
    val all =
      if (pathExists(spark, path + "_delta"))
        base.unionByName(spark.read.schema(adjDeltaSchema)
          .parquet(path + "_delta")
          .filter(col("seq") <= maxSeq)
          .select(col("node_id"), col("neighbors"), col("seq")))
      else base
    all.groupBy("node_id")
      .agg(max_by(struct(col("seq"), col("neighbors")), col("seq"))
        .getField("neighbors").as("neighbors"))
      .filter(col("neighbors").isNotNull)
  }

  /** The merged view restricted to `ids` — the id semi-join applied BELOW
    * the latest-wins aggregate (joining on the grouping key commutes with
    * the groupBy), so fetching a bounded node set never shuffles the
    * whole graph through the merge exchange.
    */
  private def readNswAdjacencyFor(spark: SparkSession, path: String,
      ids: DataFrame): DataFrame = {
    val base = spark.read.schema(adjSchema).parquet(path)
      .withColumn("seq", lit(0L))
    val all =
      if (pathExists(spark, path + "_delta"))
        base.unionByName(spark.read.schema(adjDeltaSchema)
          .parquet(path + "_delta")
          .select(col("node_id"), col("neighbors"), col("seq")))
      else base
    all.join(broadcast(ids.select("node_id")), Seq("node_id"))
      .groupBy("node_id")
      .agg(max_by(struct(col("seq"), col("neighbors")), col("seq"))
        .getField("neighbors").as("neighbors"))
      .filter(col("neighbors").isNotNull)
  }

  /** Add vectors to a persisted NSW graph without a rebuild — the HNSW
    * insert generalized to batches. New nodes link through the SAME LSH
    * candidate equi-join (against existing + new home buckets); existing
    * nodes touched by a reverse edge get their adjacency row RECOMPUTED
    * (current edges re-scored by point lookups + the new in-edges,
    * re-topped at 2M) and re-landed as a delta row — without this in-edge
    * maintenance, appended vectors would be unreachable out-only sinks.
    * Cost scales with |new|·M affected rows, never the graph. Deltas are
    * seq-stamped (prior max + 1 — deterministic); readers merge
    * latest-wins via readNswAdjacency.
    *
    * BATCH-SIZE CONTRACT: the broadcast hints assume `newNodes` is a
    * micro-batch (≲ executor broadcast budget once multiplied by M edges
    * and the embedding width — low millions of rows in practice). A
    * corpus-scale backfill exceeds the broadcast limit by design; route
    * it through `buildNswGraph` (the batch rebuild), which shuffles
    * instead of broadcasting.
    */
  def appendToNswGraph(spark: SparkSession, newNodes: DataFrame,
      embCol: String, idCol: String, lsh: IndexBuilder.RandomHyperplaneLsh,
      m: Int, path: String, corpus: DataFrame): Unit = {
    val newN = newNodes.select(col(idCol).as("id"), col(embCol).as("emb"))
    val nodesAll = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
      .unionByName(newN)
    val home = IndexBuilder.withLshBucket(nodesAll, "emb", lsh)
    // columnar probe generation (see buildNswGraph)
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    val probedNew = IndexBuilder.withLshBucket(newN, "emb", lsh, "sig")
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("id"), col("emb"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
    // the probe side is batch-sized: broadcast it so the corpus-wide home
    // frame streams through the join without an exchange
    val pairs = broadcast(probedNew).as("a")
      .join(home.as("b"), col("a.bucket") === col("b.bucket") &&
        col("a.id") =!= col("b.id"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        VectorFunctions.cosineUnit(col("a.emb"), col("b.emb")).as("score"))
      .groupBy("src", "dst").agg(max("score").as("score"))
    val wSrc = Window.partitionBy("src")
      .orderBy(col("score").desc, col("dst").asc)
    // localCheckpoint: topM feeds four downstream subtrees (new adjacency,
    // reverse edges, affected set, delta rows); without materialization
    // each broadcast build re-executes the whole candidate join
    val topM = pairs.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= m).select("src", "dst", "score")
      .localCheckpoint(true)
    val newAdj0 = topM
      .groupBy(col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // total over the arrivals, like the build: a new node alone in its
    // bucket neighborhood (common in sparse upper HNSW layers) still
    // lands a row, or layer membership would silently drift
    val newAdj = newN.select(col("id").as("node_id"))
      .join(broadcast(newAdj0), Seq("node_id"), "left")
      .select(col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    // reverse edges into EXISTING nodes: recompute those nodes' rows.
    // topM / affected / the edge recompute are all bounded by |new|·M —
    // broadcast them so no corpus-sized frame crosses an exchange here
    val existingIds = corpus.select(col(idCol).as("id"))
    val rev = broadcast(topM).join(
        existingIds.withColumnRenamed("id", "dst"), Seq("dst"))
      .select(col("dst").as("src"), col("src").as("dst"), col("score"))
    val affected = rev.select(col("src").as("node_id")).distinct()
    val curEdges = readNswAdjacencyFor(spark, path, affected)
      .select(col("node_id").as("src"), explode(col("neighbors")).as("dst"))
    val curSrc = broadcast(curEdges)
      .join(nodesAll.select(col("id").as("src"), col("emb").as("src_emb")), Seq("src"))
    val cur = broadcast(curSrc)
      .join(nodesAll.select(col("id").as("dst"), col("emb").as("dst_emb")), Seq("dst"))
      .select(col("src"), col("dst"),
        VectorFunctions.cosineUnit(col("src_emb"), col("dst_emb")).as("score"))
    val mergedRows = cur.unionByName(rev)
      .groupBy("src", "dst").agg(max("score").as("score"))
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    writeDelta(newAdj.unionByName(mergedRows), path, nextDeltaSeq(spark, path))
  }

  /** Next seq stamp for a graph's delta sidecar (prior max + 1;
    * deterministic — never a wall clock). The seq lives in the DIRECTORY
    * name (`_delta/seq=<n>` partition leaves), so allocating the next one
    * is a filesystem listing — the previous row-level seq column cost one
    * full delta read + aggregate job per rung per append.
    */
  private def nextDeltaSeq(spark: SparkSession, path: String): Long = {
    val hp = new org.apache.hadoop.fs.Path(path + "_delta")
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(hp)) 1L
    else {
      val seqs = fs.listStatus(hp).filter(_.isDirectory)
        .map(_.getPath.getName).filter(_.startsWith("seq="))
        .map(_.stripPrefix("seq=").toLong)
      if (seqs.isEmpty) 1L else seqs.max + 1L
    }
  }

  /** One delta generation landed as its own `seq=<n>` leaf (partition-
    * discovered on read; overwrite makes re-landing a generation
    * idempotent rather than duplicating rows).
    */
  private def writeDelta(df: DataFrame, path: String, seq: Long): Unit =
    df.repartition(2, col("node_id"))
      .write.mode("overwrite").parquet(path + s"_delta/seq=$seq")

  /** Delete vectors from a persisted NSW graph — a tombstone sidecar
    * append, the same O(|deleted|) delete the LSH/IVF/BM25 families use;
    * no adjacency files are touched. Search semantics until the next
    * fold: a tombstoned node may still be hopped THROUGH (its edges keep
    * its neighborhood connected — dropping it from the walk could strand
    * every region it bridges) but is never EMITTED. Walks read the
    * tombstone set from their resident pin, which the sidecar's stamp
    * re-pins.
    */
  def deleteFromNswGraph(spark: SparkSession, ids: Seq[Long], path: String): Unit = {
    import spark.implicits._
    ids.toDF("node_id").repartition(1)
      .write.mode("append").parquet(path + "_tombstones")
  }

  /** Tombstoned node ids (empty when no delete is pending). */
  def readNswTombstones(spark: SparkSession, path: String): DataFrame =
    if (pathExists(spark, path + "_tombstones"))
      spark.read.schema(tombSchema).parquet(path + "_tombstones")
        .select("node_id").distinct()
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("node_id")
    }

  /** Fold pending tombstones into the adjacency — the right-to-be-
    * forgotten job the other index families already have. Only AFFECTED
    * rows are rewritten (nodes listing a deleted neighbor — bounded by
    * the deleted set's in-degree, never the graph):
    *
    *  - each affected node drops its deleted neighbors and inherits the
    *    deleted nodes' own surviving neighbors as BRIDGE candidates (the
    *    HNSW repair heuristic: when a waypoint dies, its endpoints are
    *    wired to each other), re-scored against real embeddings and
    *    re-topped at 2M — so a region reachable only through deleted
    *    nodes stays reachable around them;
    *  - deleted nodes' own rows become NULL-neighbor removal markers,
    *    which the merged view resolves latest-wins and drops.
    *
    * Both land as ONE seq-stamped delta append; the sidecar truncates
    * LAST (the Compaction ordering), so a crash between the two leaves
    * tombstones pending — the search filter still hides the deleted ids
    * and a re-fold is idempotent (its recomputation reads the merged
    * view, which already resolves to the folded rows).
    *
    * BATCH-SIZE CONTRACT: the fold broadcasts frames bounded by the
    * tombstone set × its in-degree (affected rows, bridge edges). A
    * delete wave large enough to overflow that broadcast budget — a
    * sizable fraction of the graph — is cheaper as a rebuild over the
    * surviving corpus (`buildNswGraph`), which is the documented escape
    * hatch, not a bigger fold.
    */
  def foldNswTombstones(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, m: Int): Unit = {
    val tomb = readNswTombstones(spark, path).cache()
    if (tomb.isEmpty) return
    foldRungTombstones(spark, Seq(path), tomb, corpus, embCol, idCol, m)
    tomb.unpersist()
    // sidecar truncates LAST: a crash before this point leaves tombstones
    // pending, which is merely conservative (search keeps filtering them)
    deletePath(spark, path + "_tombstones")
  }

  /** The fold body over a SET of rungs as ONE rung-tagged job (the
    * batched-append discipline applied to deletes): the
    * bridge/surviving/rewrite pipeline keys on (rung, …) so rungs never
    * mix, and the computed delta rows materialize once before fanning
    * out as per-rung sidecar appends. The only corpus-wide touch is a
    * RAW map-side scan for the deleted set's in-neighbor candidates —
    * no latest-wins aggregate ever runs over the full graph here (see
    * the inline notes). Embedding joins use the FULL corpus keyed by id
    * — scores are layer-independent, and ids are corpus-unique. The
    * caller owns the tombstone-sidecar lifecycle.
    */
  private def foldRungTombstones(spark: SparkSession, rungPaths: Seq[String],
      tomb: DataFrame, corpus: DataFrame, embCol: String, idCol: String,
      m: Int): Unit = {
    // THE one corpus-wide pass this job fundamentally needs: the graph
    // stores OUT-edges only, so finding the deleted set's in-neighbors
    // must touch every rung's adjacency once. It runs over the RAW
    // base∪delta rows — a map-side scan + broadcast join, NO latest-wins
    // shuffle — yielding a stale-version SUPERSET of the in-neighbors
    // (bounded by in-degree across versions); only those candidates then
    // pay the merge, as an id-pruned fetch whose current edges decide
    // true affectedness. Everything downstream is |deleted| × in-degree
    // bounded; the full merged view is never aggregated, materialized,
    // or pinned anywhere in the fold.
    val rawRows = rungPaths.zipWithIndex.map { case (p, i) =>
      val base = spark.read.parquet(p).select(col("node_id"), col("neighbors"))
      val all =
        if (pathExists(spark, p + "_delta"))
          base.unionByName(spark.read.parquet(p + "_delta")
            .select(col("node_id"), col("neighbors")))
        else base
      all.withColumn("rung", lit(i))
    }.reduce(_ unionByName _)
    val candIds = rawRows
      .select(col("rung"), col("node_id"), explode(col("neighbors")).as("dst"))
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"))
      .join(broadcast(tomb), Seq("node_id"), "left_anti")
      .select("rung", "node_id").distinct()
      .localCheckpoint(true)
    // ONE bounded fetch for every merged row the fold needs — the
    // in-neighbor candidates AND the deleted nodes themselves — as a
    // per-rung id semi-join below the latest-wins aggregate,
    // materialized once; splitting back out is a broadcast filter over
    // the checkpointed blocks, never another read of the rung files.
    val fetched = rungPaths.zipWithIndex.map { case (p, i) =>
      readNswAdjacencyFor(spark, p,
        candIds.filter(col("rung") === i).select("node_id")
          .unionByName(tomb).distinct())
        .withColumn("rung", lit(i))
    }.reduce(_ unionByName _).localCheckpoint(true)
    // the candidates' CURRENT merged rows: their edges split into the
    // dying endpoints (⇒ true affectedness + bridge anchors) and the
    // surviving ones (⇒ the rewrite's base edge set) — a stale-only
    // in-edge makes a candidate drop out here
    val candEdges = fetched
      .join(broadcast(tomb), Seq("node_id"), "left_anti")
      .select(col("rung"), col("node_id").as("src"),
        explode(col("neighbors")).as("dst"))
    val affected = candEdges
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"))
      .select(col("rung"), col("src"), col("dst").as("via"))
    val affectedIds = affected.select(col("rung"), col("src").as("node_id")).distinct()
    // the deleted nodes' own rows: feed bridge candidates AND removal
    // markers — tombstone-bounded
    val deadAdj = fetched.join(broadcast(tomb), Seq("node_id"))
    // bridge candidates: deleted node d's surviving neighbors, offered to
    // every surviving node that listed d (within the same rung)
    val deadOut = deadAdj.select(col("rung"), col("node_id").as("via"),
        explode(col("neighbors")).as("dst"))
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"), "left_anti")
    val bridges = broadcast(affected)
      .join(deadOut, Seq("rung", "via"))
      .select(col("rung"), col("src"), col("dst"))
      .filter(col("src") =!= col("dst"))
    // affected nodes' surviving edges — from the same fetched candidate
    // rows, restricted to TRUE affected sources (a candidate whose only
    // tomb edge was stale must not be rewritten)
    val surviving = candEdges
      .join(broadcast(tomb.withColumnRenamed("node_id", "dst")), Seq("dst"), "left_anti")
      .join(broadcast(affectedIds.withColumnRenamed("node_id", "src")),
        Seq("rung", "src"))
      .select("rung", "src", "dst")
    val nodes = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
    val rewriteEdges = surviving.unionByName(bridges).distinct()
    val rewriteSrc = broadcast(rewriteEdges)
      .join(nodes.select(col("id").as("src"), col("emb").as("src_emb")), Seq("src"))
    val rewritten = broadcast(rewriteSrc)
      .join(nodes.select(col("id").as("dst"), col("emb").as("dst_emb")), Seq("dst"))
      .select(col("rung"), col("src"), col("dst"),
        VectorFunctions.cosineUnit(col("src_emb"), col("dst_emb")).as("score"))
      .withColumn("rn", row_number().over(Window.partitionBy("rung", "src")
        .orderBy(col("score").desc, col("dst").asc)))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("rung"), col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // an affected node whose every edge died still needs a NEW row —
    // an empty list, not its stale one surviving latest-wins
    val rewrittenAll = affectedIds
      .join(broadcast(rewritten), Seq("rung", "node_id"), "left")
      .select(col("rung"), col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    val removals = deadAdj
      .select(col("rung"), col("node_id"), lit(null)
        .cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType)).as("neighbors"))
    // one job computes every rung's delta rows; the per-rung appends are
    // cheap scans of the checkpointed blocks
    val delta = rewrittenAll.unionByName(removals).localCheckpoint(true)
    val present = delta.select("rung").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ |rungs| rows
    present.foreach { i =>
      writeDelta(delta.filter(col("rung") === i).drop("rung"),
        rungPaths(i), nextDeltaSeq(spark, rungPaths(i)))
    }
  }

  /** Fold pending tombstones through the WHOLE HNSW ladder — layer 0 and
    * every persisted `_l<ℓ>` rung, as ONE rung-tagged job. Deleted ids
    * must leave the stored upper layers too (right-to-be-forgotten is
    * about the bytes on disk, not just the emission filter), and the
    * upper-layer bridge repair keeps a region whose hash-selected
    * waypoints all died descendable around them. The one shared sidecar
    * truncates after the deltas land: a crash mid-fold leaves tombstones
    * pending and a re-fold is idempotent.
    */
  def foldHnswTombstones(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, m: Int, maxLevel: Int = 2): Unit = {
    val tomb = readNswTombstones(spark, path).cache()
    if (tomb.isEmpty) return
    val rungs = path +: (1 to maxLevel).map(path + "_l" + _)
      .filter(pathExists(spark, _))
    foldRungTombstones(spark, rungs, tomb, corpus, embCol, idCol, m)
    tomb.unpersist()
    deletePath(spark, path + "_tombstones")
  }

  /** MOR compaction for the graph — the maintenance job every other
    * index family already has: steady appends/folds accumulate delta
    * generations, and every merged read pays the latest-wins aggregate
    * over all of them. Compaction rewrites the MERGED view as the new
    * base (removal markers resolve and their nodes leave the stored
    * bytes for good) via the same dot-prefixed tmp/bak swap the
    * partition folds use, then truncates the delta sidecar LAST — a
    * crash before the truncation leaves base+deltas still resolving to
    * the identical view (re-merging already-folded deltas over the new
    * base is latest-wins idempotent), and the next compaction finishes
    * the job. Cost is one merge pass + rewrite of the graph's own
    * adjacency — never the corpus.
    */
  def compactNswGraph(spark: SparkSession, path: String,
      retainBackup: Boolean = false): Unit = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val base = new org.apache.hadoop.fs.Path(path)
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact.tmp")
    val bak = new org.apache.hadoop.fs.Path(path + "._compact.bak")
    // self-heal BEFORE anything else: a prior compaction that crashed
    // between rename(base, bak) and rename(tmp, base) left NO base
    // directory — restore the .bak (the pre-compaction base, still
    // consistent with the untruncated deltas) so this and every other
    // entry point can proceed; without this the first step below would
    // delete the only surviving copy.
    if (!fs.exists(base) && fs.exists(bak) && !fs.rename(bak, base))
      throw new java.io.IOException(
        s"compactNswGraph: cannot restore $bak after a torn swap")
    if (!pathExists(spark, path + "_delta")) return
    fs.delete(tmp, true); fs.delete(bak, true)
    readNswAdjacency(spark, path)
      .repartition(8, col("node_id"))
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(base, bak))
      throw new java.io.IOException(s"compactNswGraph: cannot move $base aside")
    if (!fs.rename(tmp, base)) {
      fs.rename(bak, base) // roll back
      throw new java.io.IOException(s"compactNswGraph: cannot install $base")
    }
    // retainBackup: keep the pre-compaction base at .bak as a rollback
    // window (the Iceberg expire-snapshots model's retention period);
    // vacuumNswGraph reclaims it once the window closes. Default deletes
    // it immediately — the compact-only maintenance path.
    if (!retainBackup) fs.delete(bak, true)
    spark.catalog.refreshByPath(path)
    // deltas truncate LAST: their content is now IN the base, and
    // re-merging them over it would resolve to the same view
    deletePath(spark, path + "_delta")
  }

  /** Ladder-wide compaction: every persisted rung folds its deltas. */
  def compactHnswGraph(spark: SparkSession, path: String,
      maxLevel: Int = 2, retainBackup: Boolean = false): Unit =
    (path +: (1 to maxLevel).map(path + "_l" + _).filter(pathExists(spark, _)))
      .foreach(compactNswGraph(spark, _, retainBackup))

  /** Ladder-wide vacuum: every persisted rung reclaims its retained
    * backup and stale temps. Returns total files reclaimed. */
  def vacuumHnswGraph(spark: SparkSession, path: String,
      maxLevel: Int = 2): Long =
    (path +: (1 to maxLevel).map(path + "_l" + _).filter(pathExists(spark, _)))
      .map(vacuumNswGraph(spark, _)).sum

  /** VACUUM for the graph index: delete files no current reader
    * resolves — the retained pre-compaction backup (once its rollback
    * window closes) and any stale compaction temp from an earlier crash.
    * The backup is only reclaimed while the base EXISTS: a missing base
    * means the .bak is the torn-swap recovery copy compactNswGraph's
    * self-heal needs, and deleting it would destroy the index. Returns
    * the number of data files reclaimed so callers can assert the
    * vacuum actually shrank the index on disk.
    */
  def vacuumNswGraph(spark: SparkSession, path: String): Long = {
    val base = new org.apache.hadoop.fs.Path(path)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def countFiles(p: org.apache.hadoop.fs.Path): Long = {
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
    var reclaimed = 0L
    val tmp = new org.apache.hadoop.fs.Path(path + "._compact.tmp")
    if (fs.exists(tmp)) { reclaimed += countFiles(tmp); fs.delete(tmp, true) }
    val bak = new org.apache.hadoop.fs.Path(path + "._compact.bak")
    if (fs.exists(base) && fs.exists(bak)) {
      reclaimed += countFiles(bak); fs.delete(bak, true)
    }
    reclaimed
  }

  // ---------------------------------------------------------------------
  // HNSW: a coarse layer ladder above NSW layer 0 (Malkov & Yashunin
  // 2016). Upper layers hold geometrically thinner node subsets with
  // their own small NSW adjacency; a query greedily descends the ladder
  // (log-hops to the right region) and hands the layer-0 beam entry
  // points already NEAR the answer — cutting the hops a flat walk
  // spends crossing the graph.
  // ---------------------------------------------------------------------

  /** Deterministic HNSW level membership: node id belongs to every layer
    * ℓ with xxhash64(id) ≡ 0 (mod fanout^ℓ) — the geometric level draw of
    * HNSW made a pure function of the id, so build, append and search
    * always agree on layer membership without stored state.
    */
  private def layerFilter(idCol: String, fanout: Int, level: Int): Column =
    pmod(xxhash64(col(idCol)), lit(math.pow(fanout.toDouble, level.toDouble).toLong)) === 0L

  /** Build the HNSW ladder: layer 0 is the full NSW graph at `path`;
    * each layer ℓ ∈ [1, maxLevel] is an independent NSW graph over the
    * ~1/fanout^ℓ node subset, persisted at `<path>_l<ℓ>`. Upper layers
    * reuse the same LSH-equi-join candidate generation — build cost is a
    * geometric series dominated by layer 0.
    */
  def buildHnswGraph(df: DataFrame, embCol: String, idCol: String,
      lsh: IndexBuilder.RandomHyperplaneLsh, m: Int, path: String,
      fanout: Int = 8, maxLevel: Int = 2): Unit = {
    buildNswGraph(df, embCol, idCol, lsh, m, path)
    var l = 1
    while (l <= maxLevel) {
      buildNswGraph(df.filter(layerFilter(idCol, fanout, l)),
        embCol, idCol, lsh, m, path + "_l" + l)
      l += 1
    }
  }

  /** Append to the HNSW ladder without a rebuild — ONE layer-tagged job,
    * not one append pipeline per rung. Every stage of the NSW append
    * (LSH candidate equi-join, per-source top-M window, reverse-edge
    * recompute of affected existing rows, re-top at 2M) runs once over
    * rows tagged with their layer: layer 0 takes every new node, each
    * upper layer exactly the new nodes its id hash selects — the SAME
    * pure level function the build used, so the ladder's membership
    * invariant survives any append sequence. Joins and windows key on
    * (layer, …), so rungs never mix; the computed delta rows materialize
    * once (localCheckpoint) and fan out as per-rung sidecar appends.
    * The previous per-rung loop ran three near-identical jobs — same
    * semantics, ~3× the scans and shuffles.
    */
  def appendToHnswGraph(spark: SparkSession, newNodes: DataFrame,
      embCol: String, idCol: String, lsh: IndexBuilder.RandomHyperplaneLsh,
      m: Int, path: String, corpus: DataFrame,
      fanout: Int = 8, maxLevel: Int = 2): Unit = {
    def layerPath(l: Int): String = if (l == 0) path else path + "_l" + l
    // tag a (id, …) frame with every layer its id hash belongs to — as a
    // single explode over the computed membership list, NOT a union of
    // maxLevel+1 filtered copies: the union form re-scans (and re-hashes)
    // the corpus once per rung, tripling the job's scan volume
    val layerList = filter(
      array((0 to maxLevel).map { l =>
        when(pmod(xxhash64(col("id")),
          lit(math.pow(fanout.toDouble, l.toDouble).toLong)) === 0L, lit(l))
      }: _*), x => x.isNotNull)
    def tagged(df: DataFrame): DataFrame =
      df.withColumn("layer", explode(layerList))
    val newN = newNodes.select(col(idCol).as("id"), col(embCol).as("emb"))
    val nodesAll = corpus.select(col(idCol).as("id"), col(embCol).as("emb"))
      .unionByName(newN)
    // signature ONCE per row, tag after — the ladder's membership tagging
    // replicates the already-computed bucket instead of re-hashing the
    // corpus per rung; probes are the columnar mask explode (see
    // buildNswGraph), never the per-row probes() UDF
    val homeT = tagged(IndexBuilder.withLshBucket(nodesAll, "emb", lsh))
    val masks = IndexBuilder.probeMasks(lsh.nBits, radius = 1)
    val probedNewT = tagged(IndexBuilder.withLshBucket(newN, "emb", lsh, "sig"))
      .withColumn("mask", explode(typedlit(masks)))
      .select(col("layer"), col("id"), col("emb"),
        col("sig").bitwiseXOR(col("mask")).as("bucket"))
    // batch-sized sides are broadcast throughout, so the corpus-wide
    // frames (homeT, existingT, nodesAll) never cross an exchange —
    // exchange count, not compute, dominates this job's wall time
    val pairs = broadcast(probedNewT).as("a")
      .join(homeT.as("b"), col("a.layer") === col("b.layer") &&
        col("a.bucket") === col("b.bucket") && col("a.id") =!= col("b.id"))
      .select(col("a.layer").as("layer"), col("a.id").as("src"),
        col("b.id").as("dst"),
        VectorFunctions.cosineUnit(col("a.emb"), col("b.emb")).as("score"))
      .groupBy("layer", "src", "dst").agg(max("score").as("score"))
    val wSrc = Window.partitionBy("layer", "src")
      .orderBy(col("score").desc, col("dst").asc)
    // localCheckpoint: same four-consumer shape as the flat append — one
    // candidate-join evaluation, not one per broadcast subtree
    val topM = pairs.withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= m).select("layer", "src", "dst", "score")
      .localCheckpoint(true)
    val newAdj0 = topM
      .groupBy(col("layer"), col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // total over the arrivals per rung: a new node alone in its bucket
    // neighborhood (common in sparse upper layers) still lands a row
    val newAdj = tagged(newN).select(col("layer"), col("id").as("node_id"))
      .join(broadcast(newAdj0), Seq("layer", "node_id"), "left")
      .select(col("layer"), col("node_id"), coalesce(col("neighbors"),
        array().cast(org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.LongType))).as("neighbors"))
    // reverse edges into EXISTING nodes, per rung: recompute those rows
    val existingT = tagged(corpus.select(col(idCol).as("id")))
    val rev = broadcast(topM)
      .join(existingT.select(col("layer"), col("id").as("dst")), Seq("layer", "dst"))
      .select(col("layer"), col("dst").as("src"), col("src").as("dst"), col("score"))
    // materialized once: affected drives a per-rung filtered merge below
    // AND the rewrite's id set — without it each subtree re-runs the
    // candidate join
    val affected = rev.select(col("layer"), col("src").as("node_id"))
      .distinct().localCheckpoint(true)
    // per-rung merge restricted to that rung's affected ids, the semi-join
    // BELOW the latest-wins aggregate — never the whole graph through it
    val curAdj = (0 to maxLevel).flatMap { l =>
      if (l == 0 || pathExists(spark, layerPath(l)))
        Some(readNswAdjacencyFor(spark, layerPath(l),
          affected.filter(col("layer") === l).select("node_id"))
          .withColumn("layer", lit(l)))
      else None
    }.reduce(_ unionByName _)
    val curEdges = curAdj
      .select(col("layer"), col("node_id").as("src"),
        explode(col("neighbors")).as("dst"))
    val curSrc = broadcast(curEdges)
      .join(nodesAll.select(col("id").as("src"), col("emb").as("src_emb")), Seq("src"))
    val cur = broadcast(curSrc)
      .join(nodesAll.select(col("id").as("dst"), col("emb").as("dst_emb")), Seq("dst"))
      .select(col("layer"), col("src"), col("dst"),
        VectorFunctions.cosineUnit(col("src_emb"), col("dst_emb")).as("score"))
    val mergedRows = cur.unionByName(rev)
      .groupBy("layer", "src", "dst").agg(max("score").as("score"))
      .withColumn("rn", row_number().over(wSrc))
      .filter(col("rn") <= 2 * m)
      .groupBy(col("layer"), col("src").as("node_id"))
      .agg(sort_array(collect_list(struct(
        (-col("score")).as("neg"), col("dst"))))
        .getField("dst").as("neighbors"))
    // one job computes every rung's delta rows; the per-rung appends below
    // are cheap scans of the checkpointed blocks
    val delta = newAdj.unionByName(mergedRows).localCheckpoint(true)
    val rungs = delta.select("layer").distinct()
      .collect().map(_.getInt(0)).sorted // ≤ maxLevel+1 rows
    rungs.foreach { l =>
      writeDelta(delta.filter(col("layer") === l).drop("layer"),
        layerPath(l), nextDeltaSeq(spark, layerPath(l)))
    }
  }

  // ---- the resident pin -------------------------------------------------
  // Every walk (flat, ladder, traced, driver-side or served) reads ONE
  // pinned view per index version: the hnswlib serving model, where the
  // graph and its vectors live resident, opened once per session like the
  // reference's Chroma handle (query_rag_database.py:138-149) and reused
  // across the session's repeated top-k queries.

  /** One pinned index version:
    *  - per ladder rung (0 is the base layer, ℓ the `_l<ℓ>` rung) the
    *    merged latest-wins adjacency, asOfSeq-pinned, and its node ids in
    *    entry order (xxhash64 asc, id asc: a fixed, query-independent
    *    sample — the fixed entry of HNSW generalized — of which a walk
    *    takes a prefix);
    *  - the corpus vectors and their length. Rows with a null embedding
    *    are skipped, so they score nothing, like ids absent from the
    *    corpus;
    *  - the tombstone set (current, whatever the asOfSeq).
    */
  private[graft] final case class View(
      adj: IndexedSeq[Map[Long, Array[Long]]],
      order: IndexedSeq[Array[Long]],
      vec: Map[Long, Array[Float]],
      dim: Int,
      dead: Set[Long])

  /** A cached view and the stamp it was built against. Served batches
    * ship the view to their tasks as one broadcast, made on the first
    * served batch per SparkContext, so driver-side walks never pay it. */
  private final class Pin(val stamp: String, val view: View) {
    private var bc: Broadcast[View] = _
    private var bcCtx: SparkContext = _
    def broadcast(sc: SparkContext): Broadcast[View] = synchronized {
      if (bcCtx ne sc) { bc = sc.broadcast(view); bcCtx = sc }
      bc
    }
    /** unpersist(false) drops executor copies only: an in-flight job
      * re-fetches from the driver, so late readers stay correct. A dead
      * context's blocks died with it. */
    def release(): Unit = synchronized {
      if (bc != null && !bcCtx.isStopped) bc.unpersist(false)
    }
  }

  // Keyed by (index path, asOfSeq); validated by a STAMP that folds the
  // FS listing of the index dir and every sidecar (_delta, _tombstones,
  // each ladder rung and its _delta) AND the corpus' plan+input signature
  // (ResultCache.cacheKey, which digests LocalRelations, so planted-copy
  // corpora invalidate too). Any append/fold/compact/delete moves the
  // stamp and the next walk re-pins in place; a same-version walk reuses
  // the view with zero pin jobs. LRU-bounded at PinMax versions.
  private val PinMax = 16
  private val pins = new java.util.LinkedHashMap[String, Pin](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[String, Pin]): Boolean =
      if (size > PinMax) { e.getValue.release(); true } else false
  }
  // Striped build locks: two concurrent first walks of the same version
  // must NOT both collect (and the loser's pin would never be released).
  // Builds serialize per key stripe and re-read the cache inside the
  // lock, so the racer reuses the winner's pin. A FIXED stripe array
  // keeps the lock state bounded over a serving JVM's lifetime; two keys
  // sharing a stripe merely serialize their (rare) builds.
  private val pinLocks = Array.fill(64)(new Object)
  private def pinLock(key: String): Object =
    pinLocks(math.floorMod(key.hashCode, pinLocks.length))
  private val pinBuildCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of resident-pin BUILDS since JVM start (cache misses). */
  private[graft] def pinBuilds: Int = pinBuildCounter.get

  /** Drop every cached pin (spec isolation only — serving never needs it:
    * stale pins are invalidated by stamp, evicted by the LRU bound). */
  private[graft] def dropPins(): Unit = pins.synchronized {
    pins.values.forEach(_.release())
    pins.clear()
  }

  /** Cheap FS stamp of one directory: file count, total bytes, max mtime
    * (the embeddingsStamp discipline from the knob cache). */
  private def dirStamp(spark: SparkSession, p: String): String = {
    val root = new org.apache.hadoop.fs.Path(p)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return s"$p#absent"
    var n = 0L; var bytes = 0L; var maxM = 0L
    val it = fs.listFiles(root, true)
    while (it.hasNext) {
      val f = it.next()
      n += 1; bytes += f.getLen
      if (f.getModificationTime > maxM) maxM = f.getModificationTime
    }
    s"$p#$n#$bytes#$maxM"
  }

  /** The pin of (index version, corpus): a cache hit when the stamp still
    * matches, else one build — one merge collect per rung (the ladder's
    * rungs `_l1, _l2, …` are every consecutive one on disk), one corpus
    * collect, one tombstone collect — that replaces the entry in place.
    */
  private def pinned(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, asOfSeq: Long): Pin = {
    val key = s"$path#asOf=$asOfSeq"
    val proj = corpus.select(col(idCol).cast("long"), col(embCol))
    def rungPaths(): Seq[String] = path +: Iterator.from(1)
      .map(path + "_l" + _).takeWhile(pathExists(spark, _)).toSeq
    def stampOf(rungs: Seq[String]): String =
      ((rungs.flatMap(p => Seq(p, p + "_delta")) :+ (path + "_tombstones"))
        .map(dirStamp(spark, _)).mkString("|") + "\u0000" +
        graft.ops.ResultCache.cacheKey(proj))
    def cached(stamp: String): Option[Pin] =
      pins.synchronized(Option(pins.get(key))).filter(_.stamp == stamp)
    cached(stampOf(rungPaths())).getOrElse(pinLock(key).synchronized {
      // re-read under the lock AND restamp under it: a mutation can land
      // between the fast-path stamp and lock acquisition, and a racing
      // thread may have built the NEWER pin already
      val rungs = rungPaths()
      val stamp = stampOf(rungs)
      cached(stamp).getOrElse {
        val adj = rungs.map(p => readNswAdjacencyAsOf(spark, p, asOfSeq)
          .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray)
          .toMap).toIndexedSeq
        val order = adj.map(_.keys.toArray.sortBy(id => (org.apache.spark.sql
          .catalyst.expressions.XXH64.hashLong(id, 42L), id)))
        val vecs = proj.collect().collect {
          case r if !r.isNullAt(1) => r.getLong(0) -> r.getSeq[Float](1).toArray
        }
        val dead = readNswTombstones(spark, path).collect().map(_.getLong(0)).toSet
        val pin = new Pin(stamp, View(adj, order, vecs.toMap,
          vecs.headOption.fold(-1)(_._2.length), dead))
        pinBuildCounter.incrementAndGet()
        Option(pins.synchronized(pins.put(key, pin))).foreach(_.release())
        pin
      }
    })
  }

  // ---- the walk ---------------------------------------------------------

  /** Left-to-right double accumulation over the shorter length: the loop
    * of the native DotProduct expression
    * (org.apache.spark.sql.graft.DotProduct.nullSafeEval), so walk scores
    * match the scan families' bit for bit. Query length is checked
    * against the pin before any walk (requireDim). */
  private def dot(e: Array[Float], q: Array[Float]): Double = {
    var s = 0.0; var i = 0
    val n = math.min(e.length, q.length)
    while (i < n) { s += e(i).toDouble * q(i).toDouble; i += 1 }
    s
  }

  private def requireDim(v: View, qv: Array[Float]): Unit =
    if (v.dim >= 0 && qv.length != v.dim) throw new IllegalArgumentException(
      s"query vector has ${qv.length} dimensions but the pinned vectors have ${v.dim}")

  /** The n best ids of a scored set, by (score desc, id asc). */
  private def best(scores: Map[Long, Double], n: Int): Seq[Long] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(n).map(_._1)

  /** THE walk loop, shared by every NSW/HNSW search: the greedy beam walk
    * over one rung's resident adjacency — H hops from `entryIds`, each
    * expanding the beam-best B visited nodes not yet expanded and scoring
    * their unvisited neighbors; every visited score is kept. With
    * `snapshotK > 0` it also records (hop, cumulative candidates scored,
    * current top-snapshotK) after every hop: the hop-curve tuning trace,
    * so the measured curve always describes the served walk. An exhausted
    * frontier stops expansion but keeps recording carry-forward snapshots
    * so the curve has a row per hop.
    */
  private def walk(adj: Map[Long, Array[Long]], vec: Map[Long, Array[Float]],
      qv: Array[Float], entryIds: Seq[Long], beam: Int, hops: Int,
      snapshotK: Int = 0): (Map[Long, Double], Seq[(Int, Long, Seq[Long])]) = {
    def score(ids: Seq[Long]): Seq[(Long, Double)] =
      ids.flatMap(id => vec.get(id).map(e => id -> dot(e, qv)))
    var visited = score(entryIds.distinct).toMap
    var scored = visited.size.toLong
    var expanded = Set.empty[Long]
    val trace = Seq.newBuilder[(Int, Long, Seq[Long])]
    var hop = 1
    var exhausted = false
    while (hop <= hops && !(exhausted && snapshotK == 0)) {
      if (!exhausted) {
        val frontier = best(visited, beam).filterNot(expanded.contains)
        if (frontier.isEmpty) exhausted = true
        else {
          val nbrs = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
            .distinct.filterNot(visited.contains)
          visited ++= score(nbrs)
          scored += nbrs.size
          expanded ++= frontier
        }
      }
      if (snapshotK > 0) trace += ((hop, scored, best(visited, snapshotK)))
      hop += 1
    }
    (visited, trace.result())
  }

  /** Layer-0 entry points for one query. `maxLevel = 0` is the flat walk:
    * the first `entries` ids of the entry order. Otherwise greedy-descend
    * the rungs top-down (the ef=1 descent of HNSW, widened a little for
    * determinism-safe ties): each rung walks from the previous rung's best
    * `descentBeam` ids, or from its own entry prefix at the top, and
    * layer 0 starts from the descended ids UNIONED with the fixed entries
    * — the descent buys fast convergence, the fixed entries keep the flat
    * walk's recall floor whatever the descent returns.
    */
  private def seeds(v: View, qv: Array[Float], entries: Int, maxLevel: Int,
      descentBeam: Int, descentHops: Int): Seq[Long] = {
    var carried = Seq.empty[Long]
    (math.min(maxLevel, v.adj.size - 1) to 1 by -1).foreach { l =>
      val s = if (carried.nonEmpty) carried else v.order(l).take(descentBeam).toSeq
      if (s.nonEmpty) carried =
        best(walk(v.adj(l), v.vec, qv, s, descentBeam, descentHops)._1, descentBeam)
    }
    (carried ++ v.order(0).take(entries)).distinct
  }

  /** One query's search over a view: seeds, then the layer-0 walk. */
  private def ladderWalk(entries: Int, maxLevel: Int, descentBeam: Int,
      descentHops: Int, beam: Int,
      hops: Int): (View, Array[Float]) => Map[Long, Double] = (v, qv) =>
    walk(v.adj(0), v.vec, qv,
      seeds(v, qv, entries, maxLevel, descentBeam, descentHops), beam, hops)._1

  /** THE emission: drop tombstoned, excluded and filtered-out ids (legal
    * waypoints, never results — the hnswlib filtered-search semantics:
    * the walk routes through every node, only emission is filtered, since
    * pruning the WALK could strand regions), keep the k best by (score
    * desc, id asc) and round scores to 6 dp.
    */
  private def topK(visited: Map[Long, Double], drop: Long => Boolean,
      k: Int): Seq[(Long, Double)] =
    visited.toSeq.filterNot { case (id, _) => drop(id) }
      .sortBy { case (id, s) => (-s, id) }.take(k)
      .map { case (id, s) =>
        id -> BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }

  /** A single query, walked on the DRIVER over the pinned maps — no Spark
    * job, except the optional metadata predicate's probe: one pushed
    * `id IN` lookup bounded by the visited set. `exclude` (e.g. the
    * forget ledger's ids) joins the conf-keyed default root's ids at
    * emission. Returns (idCol, score) rows, score desc / id asc.
    */
  private def searchOne(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, qv: Array[Float], k: Int, asOfSeq: Long,
      allowed: Option[DataFrame], exclude: Set[Long])(
      search: (View, Array[Float]) => Map[Long, Double]): DataFrame = {
    import spark.implicits._
    val v = pinned(spark, path, corpus, embCol, idCol, asOfSeq).view
    requireDim(v, qv)
    val visited = search(v, qv)
    val excl = exclude ++ graft.ops.Forget.defaultExcludeIds(spark)
    val pass: Long => Boolean = allowed match {
      case None => _ => true
      case Some(_) if visited.isEmpty => _ => false
      case Some(a) => a.filter(col(idCol).isin(visited.keys.toSeq: _*))
        .select(col(idCol)).collect().map(_.getLong(0)).toSet
    }
    topK(visited, id => v.dead(id) || excl(id) || !pass(id), k)
      .toDF(idCol, "score")
      // k driver-local rows: a single-partition narrow sort gives the
      // same global order as orderBy without its range-sampling job
      .coalesce(1).sortWithinPartitions(col("score").desc, col(idCol).asc)
  }

  /** The served walks' exclusion predicate: the caller's serve-tail set
    * unioned with the conf-keyed default root's ids, BROADCAST when
    * non-empty (a large ledger ships once per serve, not per task
    * closure) and a free constant-false when empty — the conf-unset
    * standing state must not pay broadcast registration per serve.
    *
    * Broadcasts are CACHED per (application, set content): a standing
    * serve loop over an unchanged ledger reuses ONE broadcast instead of
    * registering a new one per walk (the registration + ContextCleaner
    * pressure a long-lived armed driver would otherwise accumulate
    * between GC cycles). A forget/unforget changes the set content, so
    * the next serve keys a fresh broadcast — exclusion stays serve-tail
    * state, never cache state. Bounded LRU; evictees unpersist(false)
    * (an in-flight job re-fetches from the driver, so late readers of an
    * evicted broadcast stay correct — the pin discipline). */
  private val ExcludeBcMax = 64
  // value carries the OWNING context: unpersist routes through the
  // ACTIVE SparkEnv and broadcast ids restart per context, so calling
  // it on a dead context's handle would purge a colliding id's LIVE
  // blocks in the new context — evictees unpersist only while their own
  // context is still the active, unstopped one; a dead context's blocks
  // died with it and its entries drop handle-only
  private val excludeBcCache = new java.util.LinkedHashMap[
      (String, Set[Long]),
      (org.apache.spark.SparkContext,
        org.apache.spark.broadcast.Broadcast[Set[Long]])](16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Set[Long]),
        (org.apache.spark.SparkContext,
          org.apache.spark.broadcast.Broadcast[Set[Long]])]): Boolean =
      if (size > ExcludeBcMax) {
        val (ctx, bc) = e.getValue
        if (!ctx.isStopped)
          try bc.unpersist(false)
          catch { case _: Exception => () } // racing a context stop
        true
      } else false
  }

  private def excludeFn(spark: SparkSession,
      exclude: Set[Long]): Long => Boolean = {
    val excl = exclude ++ graft.ops.Forget.defaultExcludeIds(spark)
    if (excl.isEmpty) _ => false
    else {
      // keyed by applicationId too: a broadcast outlives neither its
      // SparkContext nor this cache — a restarted context must not serve
      // the dead context's handle
      val ctx = spark.sparkContext
      val key = (ctx.applicationId, excl)
      val bc = excludeBcCache.synchronized {
        // a context restart orphans the old app's entries (their keys
        // can never hit again) — drop them handle-only so they neither
        // occupy LRU slots nor reach the eviction unpersist
        val it = excludeBcCache.entrySet().iterator()
        while (it.hasNext)
          if (it.next().getKey._1 != ctx.applicationId) it.remove()
        val got = excludeBcCache.get(key)
        if (got != null) got._2
        else {
          val b = ctx.broadcast(excl)
          excludeBcCache.put(key, (ctx, b))
          b
        }
      }
      id => bc.value.contains(id)
    }
  }

  /** A query BATCH as ONE Spark job over the pinned view: the view ships
    * once as a broadcast and each task walks its queries entirely in
    * memory. Query lengths are checked on the driver before the job.
    * `exclude` rides the SERVE, never the pin, so a forget committed
    * after the pin was built flips the very next serve with no re-pin.
    * Returns (qid, idCol, score) rows ordered by (qid, idCol).
    */
  private def serve(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, asOfSeq: Long, exclude: Set[Long])(
      search: (View, Array[Float]) => Map[Long, Double]): DataFrame = {
    import spark.implicits._
    val pin = pinned(spark, path, corpus, embCol, idCol, asOfSeq)
    queries.foreach { case (_, qv) => requireDim(pin.view, qv) }
    val bc = pin.broadcast(spark.sparkContext)
    val excludedBy = excludeFn(spark, exclude)
    spark.sparkContext
      .parallelize(queries.map { case (q, v) => (q, v.toSeq) },
        math.max(1, math.min(queries.size, spark.sparkContext.defaultParallelism)))
      .flatMap { case (qid, qv) =>
        val v = bc.value
        topK(search(v, qv.toArray), id => v.dead(id) || excludedBy(id), k)
          .map { case (id, s) => (qid, id, s) }
      }
      .toDF("qid", idCol, "score")
      // repartition(1), NOT coalesce(1): coalesce folds the parent
      // partitions into one task, which would serialize the per-query
      // walks — the shuffle barrier keeps walk tasks parallel and the
      // single downstream task sorts the bounded |q|·k result
      .repartition(1).sortWithinPartitions(col("qid"), col(idCol))
  }

  // ---- search entry points ----------------------------------------------

  /** Beam search over the persisted graph: H hops, global beam B, from
    * the first E entry ids. `corpus` supplies (idCol, embCol) for scoring
    * (pinned once per corpus and index version). Returns (idCol, score)
    * rows for the k best visited, exact-scored. Tombstoned ids are legal
    * waypoints, never results; `allowed` filters emission the same way;
    * `asOfSeq` walks the graph as of a delta generation.
    */
  def nswSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, hops: Int = 4, entries: Int = 16,
      allowed: Option[DataFrame] = None,
      asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    searchOne(spark, path, corpus, embCol, idCol, queryVec, k, asOfSeq,
      allowed, exclude)(ladderWalk(entries, 0, 0, 0, beam, hops))

  /** One TRACED walk: the serving walk's own loop with a snapshot after
    * every hop — a recall-vs-hops tuning curve costs ONE walk per sample
    * query instead of one walk per (query, hops) setting (hop h's state
    * is a prefix of hop h+1's by construction, which also makes the
    * curve monotone). Returns (hop, scored_so_far, top-k ids) for
    * hop = 1..maxHops.
    */
  def nswSearchTrace(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, maxHops: Int = 4,
      entries: Int = 16): Seq[(Int, Long, Seq[Long])] = {
    val v = pinned(spark, path, corpus, embCol, idCol, Long.MaxValue).view
    requireDim(v, queryVec)
    walk(v.adj(0), v.vec, queryVec, seeds(v, queryVec, entries, 0, 0, 0),
      beam, maxHops, snapshotK = k)._2
  }

  /** Hierarchical search: greedy-descend the ladder top-down, then run
    * the layer-0 beam from the descended entries unioned with the fixed
    * ones (see `seeds`). `asOfSeq` pins every rung: an append stamps all
    * affected rungs in the same generation, so one asOfSeq is a
    * consistent ladder-wide snapshot. Tombstone, `allowed` and `exclude`
    * semantics match nswSearch (one sidecar for the whole ladder).
    */
  def hnswSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queryVec: Array[Float], k: Int,
      beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2,
      allowed: Option[DataFrame] = None,
      asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    searchOne(spark, path, corpus, embCol, idCol, queryVec, k, asOfSeq,
      allowed, exclude)(
      ladderWalk(entries, maxLevel, descentBeam, descentHops, beam, hops))

  /** nswSearch for a query batch, as one Spark job (see `serve`): per
    * query exactly nswSearch's rows, keyed by qid. */
  def nswServedSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4,
      entries: Int = 16, asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    serve(spark, path, corpus, embCol, idCol, queries, k, asOfSeq, exclude)(
      ladderWalk(entries, 0, 0, 0, beam, hops))

  /** hnswSearch for a query batch, as one Spark job (see `serve`): per
    * query exactly hnswSearch's rows, keyed by qid. Upper rungs are
    * geometrically thinner (|V|/fanout^ℓ), so the ladder adds ~15% to
    * the pinned view's memory. */
  def hnswServedSearch(spark: SparkSession, path: String, corpus: DataFrame,
      embCol: String, idCol: String, queries: Seq[(Long, Array[Float])],
      k: Int, beam: Int = 32, hops: Int = 4, entries: Int = 16,
      maxLevel: Int = 2, descentBeam: Int = 4,
      descentHops: Int = 2, asOfSeq: Long = Long.MaxValue,
      exclude: Set[Long] = Set.empty): DataFrame =
    serve(spark, path, corpus, embCol, idCol, queries, k, asOfSeq, exclude)(
      ladderWalk(entries, maxLevel, descentBeam, descentHops, beam, hops))
}
