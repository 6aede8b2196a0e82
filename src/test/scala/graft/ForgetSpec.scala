package graft

import graft.ops.Forget
import org.apache.spark.sql.functions.col

class ForgetSpec extends SparkSpec {

  test("forget_propagated_topk: one ledger commit excludes the doc from every surface") {
    val out = SparkEntry.queries("forget_propagated_topk")(spark, sf).collect()
    val bySurface = out.groupBy(_.getAs[String]("surface"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSeq).toMap
    assert(bySurface.keySet === Set("knn", "maxsim", "export"))
    bySurface.foreach { case (s, ids) =>
      assert(!ids.contains(100000L),
        s"surface $s still serves the forgotten doc — the ledger did " +
          "not propagate")
    }
    val ties = 0L +: (100001L to 100009L)
    assert(bySurface("knn") === ties)
    assert(bySurface("maxsim") === ties)
    assert(bySurface("export") === (100001L to 100009L).toSeq,
      "the export ships only the surviving planted ids")
  }

  test("concurrent forgetters merge: both ids survive the CAS race") {
    val root = java.nio.file.Files
      .createTempDirectory("forgetrace").toString + "/r"
    val t1 = new Thread(() => Forget.forget(spark, root, Seq(7L)))
    val t2 = new Thread(() => Forget.forget(spark, root, Seq(11L)))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(Forget.forgottenIds(spark, root).toSet === Set(7L, 11L),
      "the CAS loser must retry on the winner's head, keeping both ids")
    // idempotent re-forget: one line per id, no duplicates
    Forget.forget(spark, root, Seq(7L))
    assert(Forget.forgottenIds(spark, root) === Seq(7L, 11L))
  }

  test("streaming_forget_retrieval: a mid-stream forget flips the next micro-batch") {
    val out = SparkEntry.queries("streaming_forget_retrieval")(spark, sf)
      .collect()
    val b0 = out.filter(_.getAs[Int]("batch") == 0)
      .map(_.getAs[Long]("vec_id")).toSeq
    val b1 = out.filter(_.getAs[Int]("batch") == 1)
      .map(_.getAs[Long]("vec_id")).toSeq
    assert(b0 === Seq(0L, 900000L),
      "pre-forget the planted copy must serve (it is a live exact match)")
    assert(b1 === Seq(0L),
      "the forget committed between batches must exclude the copy from " +
        "the NEXT micro-batch — no index rebuild, no stream restart")
  }

  test("forget_reclaimed_topk: the bytes are gone and the ledger is retired") {
    val out = SparkEntry.queries("forget_reclaimed_topk")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ===
      (0L +: (100001L to 100009L)).sorted,
      "the reclaimed copy must be gone with NO serve-time exclusion")
    // physical: no posting row carries the reclaimed id
    val path = Tables.scratchPath("maxsim_postings_rcl", sf)
    assert(spark.read.parquet(path)
      .filter(col("doc_id") === 100000L).count() === 0L,
      "reclaim must rewrite the forgotten id's postings away")
    // retired: the ledger holds only logically-not-yet-physically
    // deleted ids — here, none
    val root = Tables.scratchPath("forget_rcl", sf)
    assert(graft.ops.Forget.forgottenIds(spark, root).isEmpty,
      "reclaimed ids must retire from the ledger")
  }

  test("reclaim also drops tombstoned ids with the sidecar it destroys, and recovers a torn swap") {
    import org.apache.spark.sql.functions.col
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("reclaimtomb").toString
    val root = base + "/root"
    val path = base + "/postings"
    // a posting table with three docs; doc 7 tombstone-deleted, doc 5
    // ledger-forgotten
    Seq((5L, 100L, 0), (6L, 101L, 1), (7L, 102L, 2), (8L, 103L, 3))
      .toDF("doc_id", "w_hash", "wb")
      .write.partitionBy("wb").parquet(path)
    Seq(7L).toDF("doc_id")
      .write.mode("overwrite").parquet(path + "/_tombstones")
    Forget.forget(spark, root, Seq(5L))
    Forget.reclaimPostings(spark, root, path)
    val left = spark.read.parquet(path)
      .select("doc_id").as[Long].collect().toSet
    assert(left === Set(6L, 8L),
      "both the ledger id AND the tombstoned id must leave the rewrite " +
        "— the sidecar does not survive it")
    assert(Forget.forgottenIds(spark, root).isEmpty, "ledger retired")
    // TORN SWAP: table renamed away, staged rewrite complete — the next
    // call must install the staging, not throw or rebuild from nothing
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Forget.forget(spark, root, Seq(6L))
    spark.read.parquet(path).filter(col("doc_id") =!= 6L)
      .write.mode("overwrite").parquet(path + ".reclaim")
    fs.delete(new org.apache.hadoop.fs.Path(path), true) // the crash
    Forget.reclaimPostings(spark, root, path)
    assert(spark.read.parquet(path)
      .select("doc_id").as[Long].collect().toSet === Set(8L),
      "recovery must install the completed staging, then reclaim 6")
    assert(Forget.forgottenIds(spark, root).isEmpty)
  }

  test("forget_bm25_topn: the lexical index serves only the surviving sentinel carriers") {
    import org.apache.spark.sql.functions.{col, lower}
    // data honesty: the sentinel token must exist nowhere in the corpus,
    // or the posting list stops being the planted set
    assert(Tables.documents(spark, sf)
      .filter(lower(col("text")).contains("zzqqgraftsentinel"))
      .count() === 0L)
    val out = SparkEntry.queries("forget_bm25_topn")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ===
      (100001L to 100009L).toSeq,
      "only the nine surviving planted docs carry the sentinel term")
    assert(out.map(_.getAs[Int]("rank")).toSeq === (1 to 9).toSeq)
  }

  test("unforget (legal hold): one commit restores serving; bytes were never touched") {
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("unforget").toString + "/r"
    Forget.forget(spark, root, Seq(3L, 5L))
    assert(Forget.unforget(spark, root, Seq(3L)) === Seq(3L),
      "unforget must report the ids it actually removed")
    assert(Forget.forgottenIds(spark, root) === Seq(5L))
    // serve-level: the restored id is visible again, the still-forgotten
    // one is not — no store was rewritten in either direction
    val table = Seq(3L, 4L, 5L).toDF("doc_id")
    val served = graft.ops.Forget.excludingIds(table, root)
      .as[Long].collect().sorted.toSeq
    assert(served === Seq(3L, 4L),
      "the unforgotten doc must serve; the forgotten one must not")
    // idempotent: un-forgetting an absent id is a no-op — and the return
    // value SAYS so (the reclaim-race surface: an id whose bytes were
    // physically reclaimed mid-restore comes back as not-removed, so the
    // caller sees the lost race instead of a silent no-op restore)
    assert(Forget.unforget(spark, root, Seq(99L)).isEmpty,
      "restoring an id no longer in the ledger must report nothing removed")
    assert(Forget.forgottenIds(spark, root) === Seq(5L))
  }

  test("a fresh root forgets nothing: the ledger read is empty, not an error") {
    val root = java.nio.file.Files
      .createTempDirectory("forgetempty").toString + "/r"
    assert(Forget.forgottenIds(spark, root).isEmpty)
  }

  test("ledger expiry never starves a reader: forgottenIds stays correct under concurrent bounded commits") {
    // commitBounded expires versions below head-64; a reader resolving
    // the head while the writer expires must retry into the margin, never
    // observe an empty ledger, and never exhaust its retries
    val root = java.nio.file.Files
      .createTempDirectory("forgetexpiry").toString + "/r"
    Forget.forget(spark, root, Seq(1L))
    @volatile var writerErr: Option[Throwable] = None
    val writer = new Thread(() => {
      try (2L to 90L).foreach(i => Forget.forget(spark, root, Seq(i)))
      catch { case t: Throwable => writerErr = Some(t) }
    })
    writer.start()
    try {
      while (writer.isAlive) {
        val ids = Forget.forgottenIds(spark, root)
        assert(ids.contains(1L),
          "a reader racing expiry must never lose committed ids")
      }
    } finally writer.join()
    assert(writerErr.isEmpty, s"writer failed: $writerErr")
    assert(Forget.forgottenIds(spark, root).toSet === (1L to 90L).toSet)
  }

  test("forget_reclaimed_export: bytes gone from the export table, ledger retired") {
    val out = SparkEntry.queries("forget_reclaimed_export")(spark, sf)
      .collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq ===
      (100001L to 100009L).toSeq)
    // physical: the export table no longer contains the forgotten row
    val path = Tables.scratchPath("forget_export_tbl", sf)
    assert(spark.read.parquet(path)
      .filter(col("doc_id") === 100000L).count() === 0L,
      "the export table must be rewritten without the forgotten doc")
    val root = Tables.scratchPath("forget_exp", sf)
    assert(Forget.forgottenIds(spark, root).isEmpty,
      "reclaimed ids must retire from the ledger on the export path too")
  }

  test("snapshot_forget_atomic: a version read resolves files and forgets as one pair") {
    val out = SparkEntry.queries("snapshot_forget_atomic")(spark, sf)
      .collect().map(r => (r.getAs[Long]("version"), r.getAs[Long]("doc_id")))
    assert(out.filter(_._1 == 1L).map(_._2).toSeq === (0L to 4L),
      "v1 must serve part A with NO forgets (the composed commit must " +
        "not retro-apply to the pinned version)")
    assert(out.filter(_._1 == 2L).map(_._2).toSeq ===
      Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L),
      "v2 must serve A∪B minus the atomically-forgotten ids")
  }

  test("composed snapshot+forget commits merge under a concurrent table commit") {
    val log = java.nio.file.Files
      .createTempDirectory("snapfgtrace").toString + "/log"
    Forget.commitSnapshotForget(spark, log, Seq("/t/a.parquet"), Nil)
    // the race: one writer composes (files B + forget 7), the other
    // advances the snapshot only (files C) — the CAS loser re-applies on
    // the winner's head, so BOTH file sets and the forget must survive
    val t1 = new Thread(() => {
      Forget.commitSnapshotForget(spark, log, Seq("/t/b.parquet"), Seq(7L))
      ()
    })
    val t2 = new Thread(() => {
      Forget.commitSnapshotForget(spark, log, Seq("/t/c.parquet"), Nil)
      ()
    })
    t1.start(); t2.start(); t1.join(); t2.join()
    val v = graft.ingest.ManifestLog.currentVersion(spark, log)
    assert(v === 3L, "two racing commits must land as two versions")
    val (files, forgotten) = Forget.readSnapshotForget(spark, log, v)
    assert(files.toSet ===
      Set("/t/a.parquet", "/t/b.parquet", "/t/c.parquet"),
      "no commit's files may be lost to the race")
    assert(forgotten === Set(7L),
      "the composed forget must survive whichever interleaving won")
    // atomicity at every version: a version carrying b.parquet carries
    // the forget too — no readable state has the files without it
    (1L to v).foreach { ver =>
      val (fs, ids) = Forget.readSnapshotForget(spark, log, ver)
      if (fs.contains("/t/b.parquet"))
        assert(ids.contains(7L),
          s"v$ver serves the composed commit's files without its forget")
    }
  }

  test("forget_ann_families_topk: one ledger commit flips all six family serves") {
    val out = SparkEntry.queries("forget_ann_families_topk")(spark, sf)
      .collect()
    val bySurface = out.groupBy(_.getAs[String]("surface"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSeq).toMap
    assert(bySurface.keySet ===
      Set("lsh", "ivf", "ivfsq8", "ivfpq", "hnsw", "nsw"))
    val ties = 0L +: (100001L to 100009L)
    bySurface.foreach { case (s, ids) =>
      assert(!ids.contains(100000L),
        s"family $s still serves the forgotten vector")
      assert(ids === ties, s"family $s must serve the surviving tie set")
    }
  }

  test("coupling guard: a wiped ledger root cannot silently re-serve forgotten docs on a fixture cache hit") {
    // warm the fixture (marker lands on the index path)
    SparkEntry.queries("forget_ann_families_topk")(spark, sf).collect()
    // the failure injection: selective scratch cleanup deletes the ledger
    // root ALONE — the fixture marker survives, so the build closure
    // (which commits the forget) will NOT re-run
    val root = Tables.scratchPath("forget_ann_root", sf)
    val lp = new org.apache.hadoop.fs.Path(root + "/_forget")
    lp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(lp, true)
    assert(Forget.forgottenIds(spark, root).isEmpty, "injection precondition")
    // the serve must re-establish the forget, never serve the planted id
    val out = SparkEntry.queries("forget_ann_families_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id"))
    assert(!out.contains(100000L),
      "a cache-hit serve over a wiped ledger must re-establish the " +
        "forget, not silently un-forget")
    assert(Forget.forgottenIds(spark, root) === Seq(100000L))
  }

  test("the ledger anti-join does not block partition pruning on the pruned index serves") {
    SparkEntry.queries("forget_ann_families_topk")(spark, sf).collect()
    val base = Tables.scratchPath("forget_ann", sf)
    val root = Tables.scratchPath("forget_ann_root", sf)
    // the serve shape: exclusion ABOVE the scan, probe filter below —
    // Catalyst must push the bucket filter past the anti-join into
    // partition pruning, or every serve degrades to a full index scan
    val probe = graft.ops.Forget.excludingIds(
        spark.read.parquet(base + "/lsh"), root, "vec_id")
      .filter(col("bucket").isin(0, 1))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("(?s).*PartitionFilters: \\[", "").startsWith("]"),
      s"the ledger anti-join must not block bucket partition pruning:\n$plan")
  }

  test("the distributed graph walks honor the serve-tail exclude set too") {
    import graft.vector.GraphAnn
    import org.apache.spark.sql.functions.{col, lit}
    val path = java.nio.file.Files
      .createTempDirectory("fgtwalk").toString + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val corpus = e.unionByName(
      e.filter(col("vec_id") === 0L)
        .select(lit(900000L).as("vec_id"), col("embedding")))
    GraphAnn.buildNswGraph(corpus, "embedding", "vec_id",
      graft.ops.AnnIndex.defaultLsh, 8, path)
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val excl = Set(900000L)
    val flat = GraphAnn.nswSearch(spark, path, corpus,
        "embedding", "vec_id", qv, k = 5, exclude = excl)
      .collect().map(_.getLong(0)).toSeq
    assert(!flat.contains(900000L) && flat.contains(0L) && flat.size === 5,
      s"flat walk must exclude at the tail and still fill k: $flat")
    val batch = GraphAnn.nswServedSearch(spark, path, corpus,
        "embedding", "vec_id", Seq((7L, qv)), k = 5, exclude = excl)
      .collect().map(_.getLong(1)).toSeq
    assert(!batch.contains(900000L) && batch.contains(0L) && batch.size === 5,
      s"batch walk must exclude at the tail and still fill k: $batch")
  }

  test("forget_unforget_topk: the restored copy serves again; the still-forgotten one does not") {
    val out = SparkEntry.queries("forget_unforget_topk")(spark, sf).collect()
    val bySurface = out.groupBy(_.getAs[String]("surface"))
      .view.mapValues(_.map(_.getAs[Long]("doc_id")).toSeq).toMap
    assert(bySurface.keySet === Set("knn", "export"))
    bySurface.foreach { case (s, ids) =>
      assert(ids.contains(100000L),
        s"surface $s must serve the RESTORED copy — the unforget commit " +
          "flips the next read with no store rewrite")
      assert(!ids.contains(100001L),
        s"surface $s must still exclude the never-restored copy")
    }
    assert(bySurface("knn") ===
      (0L +: 100000L +: (100002L to 100009L)))
    assert(bySurface("export") === (100000L +: (100002L to 100010L)))
  }

  test("forget_conf_default_topk: the conf alone excludes at two standing cores, then unsets") {
    val out = SparkEntry.queries("forget_conf_default_topk")(spark, sf)
      .collect()
    assert(spark.conf.getOption(graft.ops.Forget.RootConf).isEmpty,
      "the row must leave the session conf unset for every other row")
    val bySurface = out.groupBy(_.getAs[String]("surface"))
      .view.mapValues(_.map(_.getAs[Long]("vec_id")).toSeq).toMap
    assert(bySurface.keySet === Set("lsh", "ivf"))
    val ties = 0L +: (100001L to 100009L)
    bySurface.foreach { case (s, ids) =>
      assert(ids === ties,
        s"core $s must exclude the forgotten id through the conf hook " +
          s"alone: $ids")
    }
  }

  test("spark.graft.forget.root arms default-on exclusion at the standing serve tails") {
    val spark2 = spark
    import spark2.implicits._
    import graft.ops.LateInteraction
    val base = java.nio.file.Files
      .createTempDirectory("fgtconf").toString
    val root = base + "/root"
    // three standing tails, NONE wired with excludingIds: the LSH pruned
    // serve core, the MaxSim posting serve, and the BM25 indexed serve
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val corpus = e.unionByName(
      e.filter(col("vec_id") === 0L)
        .select(org.apache.spark.sql.functions.lit(900001L).as("vec_id"),
          col("embedding")))
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"),
      (3L, "delta epsilon zeta")).toDF("doc_id", "text")
    val postings = base + "/postings"
    LateInteraction.writePostings(docs, postings, "overwrite")
    val bm25 = base + "/bm25"
    graft.ops.Rag.buildBm25Index(docs, bm25)
    Forget.forget(spark, root, Seq(900001L, 2L))
    def lshServe() = graft.vector.IndexBuilder.lshTopK(corpus,
        "embedding", "vec_id", graft.ops.AnnIndex.defaultLsh, qv,
        k = 5, radius = 1)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    def maxsimServe() = LateInteraction.servePostings(spark, docs,
        "alpha beta gamma", postings)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    def bm25Serve() = graft.ops.Rag.bm25IndexedScores(spark, bm25,
        Seq("alpha")).collect().map(_.getAs[Long]("doc_id")).toSeq
    // UNARMED (the 271 standing rows' state): the ledger exists but no
    // serve consults it — byte-identical behavior to before the conf
    assert(lshServe().contains(900001L))
    assert(maxsimServe().toSet === Set(1L, 2L))
    assert(bm25Serve().toSet === Set(1L, 2L))
    spark.conf.set(Forget.RootConf, root)
    try {
      val lsh = lshServe()
      assert(!lsh.contains(900001L) && lsh.contains(0L),
        s"the armed conf must exclude the forgotten vector and still " +
          s"fill k from survivors: $lsh")
      assert(maxsimServe() === Seq(1L),
        "the posting serve must drop the forgotten doc at the candidate " +
          "stage")
      assert(bm25Serve() === Seq(1L),
        "the lexical serve must drop the forgotten doc's postings")
      // the exclusion must not break partition pruning on the pruned
      // posting probe (the ForgetSpec pruning discipline under the conf)
      val plan = LateInteraction.servePostings(spark, docs,
        "alpha beta gamma", postings).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [") &&
        !plan.replaceAll("(?s).*PartitionFilters: \\[", "").startsWith("]"),
        s"armed exclusion must not block wb= partition pruning:\n$plan")
    } finally spark.conf.unset(Forget.RootConf)
    // tail 4: the brute exact-knn core — forget a REAL member of the
    // unarmed top-10 and the armed serve must drop it (data-independent:
    // whatever ranks second unarmed)
    val unarmedTop = SparkEntry.queries("knn_exact_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    val victim = unarmedTop(1)
    val root2 = base + "/root2"
    Forget.forget(spark, root2, Seq(victim))
    spark.conf.set(Forget.RootConf, root2)
    try {
      val armedTop = SparkEntry.queries("knn_exact_topk")(spark, sf)
        .collect().map(_.getAs[Long]("vec_id")).toSeq
      assert(!armedTop.contains(victim) && armedTop.size === 10,
        s"the brute exact-knn tail must exclude $victim and refill k: " +
          s"$armedTop")
    } finally spark.conf.unset(Forget.RootConf)
    assert(SparkEntry.queries("knn_exact_topk")(spark, sf)
      .collect().map(_.getAs[Long]("vec_id")).toSeq === unarmedTop)
    // unset restores the exact pre-conf serves (opt-in again)
    assert(lshServe().contains(900001L))
    assert(maxsimServe().toSet === Set(1L, 2L))
  }

  test("ledger snapshot cache: a composed serve pays at most ONE manifest read, and a new CAS head invalidates") {
    val spark2 = spark
    import spark2.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("fgtcache").toString + "/r"
    Forget.forget(spark, root, Seq(42L, 99L))
    // the commit itself refreshed the cache with the committed head, so
    // a SERVE composing many conf-armed surfaces re-reads ZERO manifest
    // bodies while the head is unchanged (each surface still pays its
    // one currentVersion listing probe — that is the revalidation)
    val armed = spark.newSession()
    armed.conf.set(Forget.RootConf, root)
    val r0 = Forget.ledgerManifestReads.get()
    val df = armed.range(200).select(col("id").as("doc_id"))
    // a composed serve: five frame-shaped tails + five resident-set
    // tails built from the same armed session
    val frames = (1 to 5).map(_ => Forget.defaultExclusion(df, "doc_id"))
    val sets = (1 to 5).map(_ => Forget.defaultExcludeIds(armed))
    assert(Forget.ledgerManifestReads.get() - r0 <= 1L,
      "composing surfaces under one ledger head must not re-read the " +
        "manifest per surface")
    assert(sets.forall(_ === Set(42L, 99L)),
      "every surface observes the identical snapshot")
    assert(frames.forall(f =>
      f.collect().map(_.getLong(0)).toSet.intersect(Set(42L, 99L)).isEmpty))
    // a NEW CAS head invalidates: the next read serves the new ids (the
    // commit-path refresh makes the read itself a cache hit — the point
    // is freshness, not read counting)
    Forget.forget(spark, root, Seq(7L))
    assert(Forget.defaultExcludeIds(armed) === Set(42L, 99L, 7L),
      "a forget committed mid-session must flip the very next read")
    Forget.unforget(spark, root, Seq(99L))
    assert(Forget.defaultExcludeIds(armed) === Set(42L, 7L),
      "an unforget must flip the very next read too")
    // a ledger root deleted and re-committed from v1 (the fixture-build
    // shape) must never serve the prior incarnation's snapshot
    val lp = new org.apache.hadoop.fs.Path(root + "/_forget")
    lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lp, true)
    Forget.forget(spark, root, Seq(5L))
    assert(Forget.defaultExcludeIds(armed) === Set(5L),
      "a re-created ledger's same-numbered head must serve ITS content")
  }

  test("ledger cache: a root recycled by ANOTHER process misses on the head fingerprint") {
    val root = java.nio.file.Files
      .createTempDirectory("fgtrecycle").toString + "/r"
    Forget.forget(spark, root, Seq(100000L))
    assert(Forget.forgottenIds(spark, root) === Seq(100000L)) // cache warm
    // the cross-process shape: the root is deleted and re-created at the
    // SAME version number WITHOUT any commit in this JVM (Forget.forget
    // would refresh the cache itself — tryCommit bypasses it, like a
    // different process would). Version equality alone would serve this
    // JVM's cached [100000]; the head fingerprint must miss instead.
    val dir = root + "/_forget"
    val lp = new org.apache.hadoop.fs.Path(dir)
    lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(lp, true)
    assert(graft.ingest.ManifestLog.tryCommit(spark, dir, 1L,
      Seq("42", "7")), "recreate must land as the same-numbered v1")
    assert(Forget.forgottenIds(spark, root) === Seq(42L, 7L),
      "a recycled root's same-numbered head must serve ITS content, " +
        "never this JVM's prior cached snapshot")
  }

  test("ledger cache: a recycled root with SAME-LENGTH content and forced-equal mtime still misses (incarnation salt)") {
    val root = java.nio.file.Files
      .createTempDirectory("fgtrecyclesalt").toString + "/r"
    Forget.forget(spark, root, Seq(100000L))
    assert(Forget.forgottenIds(spark, root) === Seq(100000L)) // cache warm
    val dir = root + "/_forget"
    val lp = new org.apache.hadoop.fs.Path(dir)
    val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val head = new org.apache.hadoop.fs.Path(dir, "v1.manifest")
    val origMtime = fs.getFileStatus(head).getModificationTime
    fs.delete(lp, true)
    // the adversarial shape the r17 fingerprint could NOT distinguish:
    // identical content byte length ('200000' vs '100000') at the same
    // version number, and the mtime forced onto the original's tick —
    // only the sentinel's incarnation salt (counter-sequenced pad
    // lengths, always distinct for in-JVM consecutive commits) moves
    // the file length and misses the cache
    assert(graft.ingest.ManifestLog.tryCommit(spark, dir, 1L,
      Seq("200000")), "recreate must land as the same-numbered v1")
    fs.setTimes(head, origMtime, -1)
    assert(Forget.forgottenIds(spark, root) === Seq(200000L),
      "equal-length, equal-mtime recycled head must still miss the " +
        "cache via the salt")
  }

  test("a forget flips a RESIDENT-pinned graph serve with zero pin rebuild") {
    import graft.vector.GraphAnn
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files
      .createTempDirectory("forgetpin").toString
    val root = base + "/root"
    val path = base + "/g"
    val e = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // a copy of vec 0 (id 900000) so the forget has an enumerable effect
    val corpus = e.unionByName(
      e.filter(col("vec_id") === 0L)
        .select(org.apache.spark.sql.functions.lit(900000L).as("vec_id"),
          col("embedding")))
    GraphAnn.buildNswGraph(corpus, "embedding", "vec_id",
      graft.ops.AnnIndex.defaultLsh, 8, path)
    val qv = e.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    GraphAnn.dropPins()
    val b0 = GraphAnn.pinBuilds
    def serve(excl: Set[Long]) = GraphAnn.nswServedSearch(spark, path,
        corpus, "embedding", "vec_id", Seq((0L, qv)), k = 5, exclude = excl)
      .collect().map(_.getLong(1)).toSeq
    val before = serve(Set.empty)
    assert(GraphAnn.pinBuilds - b0 === 1)
    assert(before.contains(900000L), "pre-forget the copy serves")
    // THE forget, committed AFTER the pin was built: the exclusion rides
    // the serve tail, so the flip needs no pin invalidation at all
    Forget.forget(spark, root, Seq(900000L))
    val ids = Forget.forgottenIds(spark, root).toSet
    val after = serve(ids)
    assert(GraphAnn.pinBuilds - b0 === 1,
      "the forget must NOT rebuild the pin — exclusion is serve-tail " +
        "state, never baked into the pinned broadcasts")
    assert(!after.contains(900000L),
      "the pinned view must stop serving the forgotten id immediately")
    assert(after.contains(0L))
  }

  test("the ivf fit memo must not pin the warming session: an armed session's serve still excludes") {
    // regression for the order-dependent forget_conf_default_topk
    // failure: withIvfCluster memoized the ASSIGNED FRAME keyed by plan
    // content, so an unarmed session warming the key pinned ITS session
    // into every later caller's plan and the conf-keyed exclusion read
    // the wrong session's conf
    import graft.vector.IndexBuilder
    import graft.ops.AnnIndex
    val root = Tables.scratchPath("forget_leakrow", sf)
    def corpusOf(s: org.apache.spark.sql.SparkSession) = {
      val e = Tables.embeddings(s, sf).select("vec_id", "embedding")
      e.unionByName(AnnIndex.plantedLocalRows(s, e, Seq(910000L -> 0L)))
    }
    val qv = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0).toArray
    // warm the memo from the UNARMED base session
    IndexBuilder.ivfTopK(corpusOf(spark), "embedding", "vec_id", qv,
      k = 5, numClusters = 4, nProbe = 2, seed = 7L).collect()
    Forget.forget(spark, root, Seq(910000L))
    val armed = spark.newSession()
    armed.conf.set(graft.ops.Forget.RootConf, root)
    val served = IndexBuilder.ivfTopK(corpusOf(armed), "embedding",
        "vec_id", qv, k = 5, numClusters = 4, nProbe = 2, seed = 7L)
      .collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(!served.contains(910000L),
      "a fit memo warmed by an unarmed session must not carry that " +
        s"session into an armed serve: $served")
  }

  test("a composeDelete racing reclaimTable survives: the manifest publish and fold consumption lose nothing") {
    import graft.ops.LateInteraction
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("reclaimrace").toString
    val path = base + "/postings"
    val root = base + "/ledger"
    LateInteraction.writePostings(
      Seq((1L, "alpha beta"), (2L, "gamma delta"), (3L, "epsilon zeta"))
        .toDF("doc_id", "text"), path, "overwrite")
    Forget.forget(spark, root, Seq(1L))
    // the composer CAS-commits its delete INSIDE reclaim's window:
    // after the rewrite's listing diff, before the fold consumption —
    // exactly where the r17 directory swap destroyed it
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"),
      beforeLogFold =
        () => LateInteraction.composeDelete(spark, path, Seq(3L)))
    // the ledger id is physically gone AND the racing delete excludes
    val served = LateInteraction.resolvedPostings(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet
    assert(served === Set(2L),
      s"racing composer's delete must survive the reclaim, served $served")
    assert(LateInteraction.tableData(spark, path)
      .filter(col("doc_id") === 1L).count() === 0L,
      "the ledger id must be physically reclaimed")
    assert(LateInteraction.hasTombstoneState(spark, path),
      "the raced delete's log line must still be pending state")
    // a SECOND reclaim folds the raced delete physically and consumes it
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"))
    assert(LateInteraction.tableData(spark, path)
      .filter(col("doc_id") === 3L).count() === 0L,
      "the second reclaim must fold the raced delete into the rewrite")
    assert(!LateInteraction.hasTombstoneState(spark, path),
      "a fully-consumed log must read as no pending state")
    assert(LateInteraction.resolvedPostings(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ===
      Set(2L))
  }

  test("reclaimTable retainVersions=1 keeps the previous generation's files until the next reclaim; default 0 deletes promptly") {
    import graft.ops.LateInteraction
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("reclaimretain").toString
    val path = base + "/postings"
    val root = base + "/ledger"
    LateInteraction.writePostings(
      Seq((1L, "alpha beta"), (2L, "gamma delta"))
        .toDF("doc_id", "text"), path, "overwrite")
    val genA = LateInteraction.leafFilesAny(spark, path).toSet
    assert(genA.nonEmpty)
    // grace reclaim: the pre-publish generation must SURVIVE on disk
    // (an in-flight reader of the old head keeps scanning), though the
    // head serves only the rewrite
    LateInteraction.composeDelete(spark, path, Seq(1L))
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"),
      retainVersions = 1)
    val afterFirst = LateInteraction.leafFilesAny(spark, path).toSet
    assert(genA.subsetOf(afterFirst),
      "retainVersions=1 must keep the previous generation's files")
    assert(LateInteraction.resolvedPostings(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ===
      Set(2L), "the head must serve ONLY the rewrite despite retention")
    // next reclaim (default retention): the retained generation expires
    // and its files vacuum — the compliance end state
    LateInteraction.composeDelete(spark, path, Seq(2L))
    intercept[IllegalArgumentException] {
      // rewriting away the last doc empties the table — must refuse
      Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"))
    }
    // re-add a survivor so the rewrite is non-empty, then reclaim
    LateInteraction.writePostings(
      Seq((3L, "epsilon zeta")).toDF("doc_id", "text"), path, "append")
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"))
    val afterSecond = LateInteraction.leafFilesAny(spark, path).toSet
    assert(genA.intersect(afterSecond).isEmpty,
      "the second reclaim must vacuum the generation the first retained")
    assert(LateInteraction.resolvedPostings(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ===
      Set(3L))
  }

  test("reclaimTable is idempotent across its crash windows: re-applied tombstone state no-ops against the rewrite") {
    import graft.ops.LateInteraction
    val spark2 = spark
    import spark2.implicits._
    val base = java.nio.file.Files
      .createTempDirectory("reclaimidem").toString
    val path = base + "/postings"
    val root = base + "/ledger"
    LateInteraction.writePostings(
      Seq((1L, "alpha beta"), (2L, "gamma delta"))
        .toDF("doc_id", "text"), path, "overwrite")
    LateInteraction.composeDelete(spark, path, Seq(1L))
    // crash shape: PUBLISH happened, CONSUME did not — simulate by
    // re-adding the folded line after a clean reclaim (the line then
    // names a doc whose rows are already gone)
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"))
    LateInteraction.composeDelete(spark, path, Seq(1L))
    assert(LateInteraction.resolvedPostings(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ===
      Set(2L), "a re-applied delete over absent rows must be a no-op")
    // the next reclaim consumes it and converges to a clean state
    Forget.reclaimTable(spark, root, path, partitionCols = Seq("wb"))
    assert(!LateInteraction.hasTombstoneState(spark, path))
    // an append AFTER reclaim publishes through the manifest: the new
    // doc must serve (a manifest-blind append would be invisible)
    LateInteraction.writePostings(
      Seq((4L, "eta theta")).toDF("doc_id", "text"), path, "append")
    assert(LateInteraction.resolvedPostings(spark, path)
      .select("doc_id").distinct().collect().map(_.getLong(0)).toSet ===
      Set(2L, 4L), "a post-reclaim append must publish into the manifest")
  }
}
