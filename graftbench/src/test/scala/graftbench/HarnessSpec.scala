package graftbench

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder().master("local[2]")
    .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("percentiles need ten samples beyond them and report their sample count") {
    val xs = (1 to 100).map(_.toDouble)
    val p90 = Stats.percentile(xs, 0.9)
    assert(p90.value == 90.0 && p90.n == 100 && p90.beyond == 10)
    assert(Stats.supported(xs, 0.9).contains(p90))
    assert(Stats.supported(xs.take(99), 0.9).isEmpty, "99 samples leave 9 beyond p90")
    assert(Stats.supported(xs.take(19), 0.5).isEmpty, "19 samples leave 9 beyond the median")
    assert(Stats.supported(xs.take(20), 0.5).map(p => (p.q, p.n, p.beyond)).contains((0.5, 20, 10)))
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(math.abs(Stats.geometricMean(Seq(0.1, 1.0, 10.0)) - 1.0) < 1e-12)
  }

  test("a throwing op and a wrong answer both count as failed") {
    val rec = new Recorder(spark, traced = true)
    rec.op("ok")(ph => ph.collect(spark.range(3).toDF()))(r => None)
    rec.op("throws")(_ => throw new IllegalStateException("boom"))(_ => None)
    rec.op("wrong")(ph => ph.collect(spark.range(3).toDF()))(r =>
      if (r.length == 4) None else Some(s"${r.length} rows, expected 4"))
    assert(rec.ops.map(o => o.kind -> o.ok) ==
      Seq("ok" -> true, "throws" -> false, "wrong" -> false))
    assert(rec.ops(1).error.contains("boom"))
    // the listener charged the collect's job to the op's own span
    val counts = rec.tally.snapshot(spark)
    val root = rec.rootOf
    val okJobs = counts.collect { case (t, c) if t != Tally.Untagged &&
      root(t.stripPrefix(Tally.Prefix).toInt) == rec.ops.head.spanId => c.jobs }.sum
    assert(okJobs >= 1)
  }

  test("the same seed gives identical inputs, another seed different ones") {
    def inputs(seed: Long) = Seq(
      Gen.digest(Gen.vecLines(Gen.vectors(seed, 200, 64))),
      Gen.digest(Gen.docLines(Gen.docs(seed, "documents", 0L until 300L))),
      Gen.digest(Gen.docLines(Gen.curationCorpus(seed, 300, 5, 5).docs)))
    assert(inputs(7) == inputs(7))
    inputs(7).zip(inputs(8)).foreach { case (a, b) => assert(a != b) }
    val r1 = Gen.rng(7, "queries")
    val r2 = Gen.rng(7, "queries")
    val v = Gen.vectors(7, 1, 64).head.emb
    assert(Gen.nearQuery(r1, v, 0.2).sameElements(Gen.nearQuery(r2, v, 0.2)))
  }

  test("planted duplicates are where the generator says") {
    val p = Gen.curationCorpus(3, 500, 4, 6)
    val copies = p.docs.drop(500)
    assert(copies.size == p.plantedDocs && copies.size >= 2 * 10)
    val baseTexts = p.docs.take(500).map(_.text).toSet
    assert(copies.count(d => baseTexts(d.text)) >= 2 * 4, "exact copies keep their text")
  }

  test("the result carries every metric BENCHMARK.json names, with its unit") {
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    val spec = json.readTree(new java.io.File("../BENCHMARK.json"))
    val root = Files.createTempDirectory("graftbench-spec").toString
    val out = root + "/out"
    val tiny = new Workload {
      def setup(c: Ctx): Unit = c.rec.step("generate")(spark.range(10).count())
      def cycle(c: Ctx, n: Int): Unit = (1 to 3).foreach { _ =>
        c.rec.op("count")(ph => ph.collect(spark.range(100).toDF()))(_ => None)
      }
      def docsPerCycle: Int = 0
      def references: Map[String, DataFrame] = Map.empty
    }
    for (trace <- Seq(false, true)) {
      Main.run(Main.Args("tiny", 1, 1, trace, root + "/run", out, 2), tiny, spark)
      val section = if (trace) "per_layer" else "end_to_end"
      val got = json.readTree(new java.io.File(out, "result.json")).get(section)
      spec.get(section).forEach { m =>
        val name = m.get("name").asText
        assert(got.has(name), s"$section metric $name missing")
        assert(got.get(name).get("unit").asText == m.get("unit").asText,
          s"$name is not reported in ${m.get("unit").asText}")
        assert(got.get(name).get("value").isNumber, s"$name has no numeric value")
      }
    }
  }
}
