package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up one workload in a fresh fixture root,
  * runs its timed cycles from one closed-loop client thread (the next op
  * starts only when the previous one returned), checks every answer, and
  * writes the measured figures as JSON for the launcher (`run.py`), which
  * adds the oracle check and prints the result line.
  *
  * {{{
  * Main --workload retrieve --seed 1 --seconds 10 --trace 0 \
  *      --root <empty run dir> --out <result dir>
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, root: String, out: String, cores: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("root"), need("out"),
      m.get("cores").map(_.toInt).getOrElse(
        math.min(4, Runtime.getRuntime.availableProcessors())))
  }

  /** A run measures `ceil(seconds / nominal cycle seconds)` whole cycles,
    * so the op sequence — and every count over it — is a function of the
    * arguments alone, never of how fast the machine was. */
  def cycles(wl: Workload, seconds: Int): Int =
    math.max(1, math.ceil(seconds / wl.cycleSeconds).toInt)

  def session(a: Args): SparkSession = {
    val spark = graft.GraftSession.withRecommended(SparkSession.builder())
      .master(s"local[${a.cores}]")
      .appName(s"graftbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.root}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.root}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads(a.workload)
    val spark = session(a)
    try run(a, wl, spark) finally spark.stop()
  }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private val MB = 1024.0 * 1024.0

  def run(a: Args, wl: Workload, spark: SparkSession): Unit = {
    val rec = new Recorder(spark, a.trace)
    val c = new Ctx(spark, a.root, a.seed, rec)
    wl.setup(c)
    rec.ops.clear()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val setupLayer = c.layer.toMap
    c.layer.clear()

    // timed phase
    val before = rec.tally.snapshot(spark)
    val miss0 = graft.ops.ResultCache.totalIndexMisses
    val events0 = graft.ops.ResultCache.recentEvents.size
    val route0 = graft.ops.RouteLog.latestSeq
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcSeconds
    val n = cycles(wl, a.seconds)
    val t0 = System.nanoTime()
    (1 to n).foreach { i => rec.cycle = i; wl.cycle(c, i) }
    // throughput is per second of timed wall, the harness's own work
    // between ops included; the CPU ratio is per second of op time
    val wall = (System.nanoTime() - t0) / 1e9
    val opSeconds = rec.ops.map(_.seconds).sum
    val gcS = gcSeconds - gc0
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / MB
    val failedKinds = wl.runChecks(c)
    val after = rec.tally.snapshot(spark)
    // full GCs with pauses for Spark's cleaner to drop what each GC freed
    // (broadcasts, shuffle state), until the heap stops shrinking
    def heapUsed() = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / MB }
    val settle = mutable.ArrayBuffer(heapUsed())
    while (settle.size < 2 || (settle.size < 8 && settle(settle.size - 2) - settle.last >= 0.5)) {
      Thread.sleep(300); settle += heapUsed()
    }
    c.notes("heap_after_gc_mb") = settle.map(v => f"$v%.1f").mkString(" ")
    val heapRetained = settle.last
    // Spark's own scratch space (shuffle and broadcast blocks) is left out:
    // what it holds at the end depends on cleaner timing, not on the work
    val diskMb = Option(new java.io.File(a.root).listFiles()).getOrElse(Array.empty)
      .filter(_.getName != "spark-local").map(treeBytes).sum / MB

    val ops = rec.ops.toSeq.map(o =>
      failedKinds.get(o.kind).fold(o)(m => o.copy(ok = false, error = m)))
    failedKinds.foreach { case (k, m) => System.err.println(s"[graftbench] $k failed: $m") }
    val root = rec.rootOf
    // span tags are fresh per span, so an op's work is the sum over the
    // tags of the spans under it
    val byOp = after.toSeq.collect { case (tag, cnt) if tag != Tally.Untagged =>
      root(tag.stripPrefix(Tally.Prefix).toInt) -> cnt
    }.groupBy(_._1)
    val perOp = ops.map { o =>
      val t = new Counts
      byOp.getOrElse(o.spanId, Nil).foreach(p => t += p._2)
      o -> t
    }
    val total = new Counts
    perOp.foreach(p => total += p._2)
    val nOps = math.max(1, ops.size).toDouble
    val untagged = after.get(Tally.Untagged).map(_.jobs).getOrElse(0L) -
      before.get(Tally.Untagged).map(_.jobs).getOrElse(0L)

    val lat = ops.map(_.seconds)
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("op_gmean_s", Stats.geometricMean(lat), "s"),
      ("jobs_per_op", total.jobs / nOps, "jobs"),
      ("heap_retained_mb", heapRetained, "MB"),
      ("disk_mb", diskMb, "MB"))

    // the per-layer figures of the traced run
    val events = graft.ops.ResultCache.recentEvents.drop(events0).filter(_.kind == "index")
    val hits = events.count(_.hit).toDouble
    val misses = (graft.ops.ResultCache.totalIndexMisses - miss0).toDouble
    val routes = graft.ops.RouteLog.recent.filter(_.seq > route0)
      .groupBy(r => s"${r.site}:${r.choice}").map { case (k, v) => k -> v.size }
    val walkKinds = Set("hnswSearch", "nswSearch", "hnswServedSearch")
    val walkOps = perOp.filter(p => walkKinds(p._1.kind))
    def phase(name: String) = ops.map(_.phases.getOrElse(name, 0.0)).sum / nOps
    val buildJobs = perOp.map { case (o, _) =>
      val buildSpans = rec.allSpans.filter(s => s.name == "build" && s.parent == o.spanId).map(_.id)
      buildSpans.map(id => after.get(rec.tagOf(id)).map(_.jobs).getOrElse(0L)).sum
    }.sum
    val layer = c.layer.toMap
    def l(k: String) = layer.getOrElse(k, 0.0)
    val perLayer = Seq(
      ("ops.build_s", phase("build"), "s"),
      ("ops.build_jobs", buildJobs / nOps, "jobs"),
      ("vector.walk_jobs", if (walkOps.isEmpty) 0.0
        else walkOps.map(_._2.jobs).sum.toDouble / walkOps.size, "jobs"),
      ("vector.build_s", setupLayer.getOrElse("vector.build_s", 0.0), "s"),
      ("vector.append_s", l("vector.append_s") / n, "s"),
      ("vector.recall_at_10", l("vector.recall_at_10"), "ratio"),
      ("sql_graft.plan_s", ops.map(_.planS).sum / nOps, "s"),
      ("sql_graft.plans_per_op", total.plans / nOps, "count"),
      ("spark.exec_s", phase("exec"), "s"),
      ("spark.jobs", total.jobs / nOps, "jobs"),
      ("spark.stages", total.stages / nOps, "count"),
      ("spark.tasks", total.tasks / nOps, "count"),
      ("spark.cpu_s", total.cpuNs / 1e9 / nOps, "s"),
      ("spark.cpu_ratio", total.cpuNs / 1e9 / opSeconds, "ratio"),
      ("spark.shuffle_bytes", total.shuffleBytes / nOps, "B"),
      ("spark.input_bytes", total.inputBytes / nOps, "B"),
      ("spark.result_bytes", total.resultBytes / nOps, "B"),
      ("spark.untagged_jobs", untagged.toDouble, "jobs"),
      ("resultcache.index_hits", hits, "count"),
      ("resultcache.index_misses", misses, "count"),
      ("resultcache.hit_ratio", if (hits + misses > 0) hits / (hits + misses) else 0.0, "ratio"),
      ("resultcache.fixture_build_s", rec.fixtureBuildSeconds, "s"),
      ("resultcache.routes", routes.values.sum.toDouble, "count"),
      ("ingest.run_s", l("ingest.run_s") / n, "s"),
      ("ingest.embedded", l("ingest.embedded") / n, "count"),
      ("ingest.embed_useful_ratio",
        if (l("ingest.embedded") > 0) l("ingest.chunks_new") / l("ingest.embedded") else 0.0,
        "ratio"),
      ("ingest.files_written", l("ingest.files_written") / n, "count"),
      ("ingest.index_files", l("ingest.index_files"), "count"),
      ("ingest.compact_s", l("ingest.compact_s"), "s"),
      ("text.chunk_s", l("text.chunk_s"), "s"),
      ("text.chunks_per_doc", if (l("text.docs") > 0) l("text.chunks") / l("text.docs") else 0.0,
        "ratio"),
      ("driver.gc_s", gcS, "s"),
      ("driver.heap_peak_mb", heapPeak, "MB"))

    // the workload's own figures, by the names its doc gives them
    val queries = ops.filter(o => wl.isQuery(o.kind)).map(_.seconds)
    val batches = wl.batches(ops)
    val failed = ops.count(!_.ok)
    val named = Seq.newBuilder[(String, Double, String)]
    if (queries.nonEmpty) {
      named += (("query_p50_s", Stats.median(queries), "s"))
      Stats.supported(queries, 0.9).foreach(p => named += (("query_p90_s", p.value, "s")))
      if (queries.size == ops.size) named += (("queries_per_s", queries.size / wall, "1/s"))
    }
    if (batches.nonEmpty) named += (("batch_p50_s", Stats.median(batches), "s"))
    if (wl.docsPerCycle > 0) named += (("docs_per_s", wl.docsPerCycle.toDouble * n / wall, "docs/s"))
    named += (("fail_ratio", failed.toDouble / nOps, "ratio"))

    def metrics(ms: Seq[(String, Double, String)]) = obj(ms.map { case (k, v, u) =>
      k -> obj("value" -> v, "unit" -> u) }: _*)
    val result = obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cores" -> a.cores, "cycles" -> n, "op_seconds" -> opSeconds,
      "timed_wall_s" -> wall,
      "attempted" -> ops.size, "failed" -> failed,
      "confs" -> obj(spark.conf.getAll.toSeq.sorted.filter { case (k, _) =>
        k.startsWith("spark.sql.") || k == "spark.master" }: _*),
      "end_to_end" -> metrics(endToEnd),
      "per_layer" -> metrics(perLayer),
      "workload_metrics" -> metrics(named.result()),
      "samples" -> obj("ops" -> ops.size, "queries" -> queries.size,
        "batches" -> batches.size,
        "query_p90_supported" -> Stats.supported(queries, 0.9).isDefined),
      "ops_by_kind" -> obj(perOp.groupBy(_._1.kind).toSeq.sortBy(_._1).map { case (k, ps) =>
        k -> obj("count" -> ps.size, "failed" -> ps.count(!_._1.ok),
          "median_s" -> Stats.median(ps.map(_._1.seconds)),
          "jobs_per_op" -> ps.map(_._2.jobs).sum.toDouble / ps.size)
      }: _*),
      "routes" -> obj(routes.toSeq.sorted: _*),
      "errors" -> ops.filterNot(_.ok).take(20).map(o => s"${o.kind}: ${o.error.take(300)}").asJava,
      "notes" -> obj(c.notes.toSeq: _*),
      "references" -> wl.references.keys.toSeq.sorted.asJava)
    val out = new java.io.File(a.out)
    out.mkdirs()
    Json.writeValue(new java.io.File(out, "result.json"), result)

    // untimed: reference answers and their oracle SQL for the launcher
    val oracle = graft.SparkEntry.oracleSql
    Json.writeValue(new java.io.File(out, "oracle_sql.json"),
      obj(wl.references.keys.toSeq.sorted.map(k => k -> oracle(k)): _*))
    wl.references.foreach { case (k, df) =>
      df.coalesce(1).write.mode("overwrite").parquet(s"${a.out}/oracle/$k")
    }
    if (a.trace) writeTrace(new java.io.File(out, "spans.json"), rec, after, ops)
  }

  private val Json = new com.fasterxml.jackson.databind.ObjectMapper

  /** An insertion-ordered JSON object for Jackson. */
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  private def writeTrace(f: java.io.File, rec: Recorder,
      counts: Map[String, Counts], ops: Seq[OpRec]): Unit = {
    val self = rec.selfSeconds
    val failed = ops.filterNot(_.ok).map(_.spanId).toSet
    Json.writeValue(f, rec.allSpans.sortBy(_.id).map(s => obj(
      "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "kind" -> s.kind,
      "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "self_s" -> self(s.id),
      "jobs" -> counts.get(rec.tagOf(s.id)).map(_.jobs).getOrElse(0L),
      "failed" -> failed(s.id))).asJava)
  }

  def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else f.length()

  def countFiles(dir: String, keep: String => Boolean): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (keep(f.getName)) 1L else 0L
    walk(new java.io.File(dir))
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
