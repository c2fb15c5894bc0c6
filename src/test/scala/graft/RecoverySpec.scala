package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Exactly-once across restarts (SURVEY.md §2.7 delivery row): a file-
  * source stream with a checkpoint is stopped mid-input and restarted;
  * the sink must contain every input row exactly once — checkpointed
  * offsets + idempotent per-epoch sink replace Trident's txid state
  * (CassandraState.java:62-68,120-127).
  */
class RecoverySpec extends SparkSpec {
  import spark.implicits._

  test("file stream restart from checkpoint is exactly-once") {
    val base = Files.createTempDirectory("graft_recovery")
    val in = base.resolve("in"); Files.createDirectories(in)
    val out = base.resolve("out").toString
    val ckpt = base.resolve("ckpt").toString

    def runOnce(): Unit = {
      val q = spark.readStream
        .schema("id LONG, v LONG")
        .parquet(in.toString)
        .withColumn("doubled", col("v") * 2)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    // epoch 1: first file
    Seq.range(0L, 100L).map(i => (i, i % 7)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    runOnce()
    // epoch 2: second file arrives after the stream stopped
    Seq.range(100L, 250L).map(i => (i, i % 7)).toDF("id", "v")
      .coalesce(1).write.mode("append").parquet(in.toString)
    runOnce()
    // epoch 3: restart with NO new data — must add nothing (idempotent)
    runOnce()

    val got = spark.read.parquet(out).select("id").as[Long].collect().toSeq.sorted
    assert(got.size == 250, s"expected 250 rows exactly once, got ${got.size}")
    assert(got == Seq.range(0L, 250L), "every input id exactly once")
  }

  // ---- StoreSwap: kill the two-rename swap between every pair of steps.
  // The protocol (delete leftover .old / rename store->.old /
  // rename .tmp->store / delete .old) claims that a COMPLETE version is
  // readable at every intermediate state and that re-running commit from
  // any crash point finishes the swap. Each test manufactures one crash
  // state with raw FS ops and asserts both halves of the claim.

  import graft.model.StoreSwap

  private def hfs = org.apache.hadoop.fs.FileSystem.get(
    spark.sparkContext.hadoopConfiguration)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)
  private def writeVersion(dir: String, tag: String, n: Int): Unit =
    Seq.tabulate(n)(i => (i.toLong, tag)).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  private def readTags(dir: String): Set[String] =
    spark.read.parquet(dir).select("v").as[String].collect().toSet

  test("StoreSwap kill before any rename (store=v1, tmp=v2): v1 readable, commit lands v2") {
    val store = Files.createTempDirectory("graft_swap_a").toString + "/store"
    writeVersion(store, "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    val readable = StoreSwap.readablePath(spark, store)
    assert(readable.contains(store) && readTags(readable.get) == Set("v1"))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v2") && spark.read.parquet(store).count() == 12)
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))) &&
      !hfs.exists(hp(StoreSwap.oldPath(store))), "no sibling dirs after commit")
  }

  test("StoreSwap kill mid-swap (old=v1, tmp=v2, store ABSENT): v1 still readable, commit recovers v2") {
    val store = Files.createTempDirectory("graft_swap_b").toString + "/store"
    // the state the naive delete-then-rename makes unrecoverable: the
    // serving path itself is gone
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    val readable = StoreSwap.readablePath(spark, store)
    assert(readable.contains(StoreSwap.oldPath(store)),
      "mid-swap the .old preserved by step 2 must be the readable version")
    assert(readTags(readable.get) == Set("v1"))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v2"))
    assert(!hfs.exists(hp(StoreSwap.oldPath(store))))
  }

  test("StoreSwap kill after swap, before cleanup (store=v2, old=v1): v2 readable, commit cleans up") {
    val store = Files.createTempDirectory("graft_swap_c").toString + "/store"
    writeVersion(store, "v2", 12)
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    assert(StoreSwap.readablePath(spark, store).contains(store))
    StoreSwap.commit(spark, store) // recovery mode: no tmp
    assert(readTags(store) == Set("v2"))
    assert(!hfs.exists(hp(StoreSwap.oldPath(store))), "leftover .old cleaned")
  }

  // a faithful torn-write state: the committer deletes `_temporary`
  // strictly BEFORE dropping `_SUCCESS`, so a crash that loses data
  // always leaves the staging dir behind (deleting the marker alone
  // would instead simulate a committer configured WITHOUT markers —
  // see the fallback test below)
  private def tear(dir: String): Unit = {
    hfs.delete(hp(dir + "/_SUCCESS"), false)
    hfs.mkdirs(hp(dir + "/_temporary"))
  }

  test("StoreSwap never promotes a TORN tmp (_temporary staging left): discarded, store intact") {
    // the write job itself is the longest crash window — a tmp whose
    // job crashed mid-write is half-written and promoting it would
    // trade the only complete version for garbage
    val store = Files.createTempDirectory("graft_swap_torn").toString + "/store"
    writeVersion(store, "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    tear(StoreSwap.tmpPath(store))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v1"), "the complete version must survive")
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))), "torn tmp discarded")
  }

  test("StoreSwap accepts a committed write from a committer that drops no _SUCCESS marker") {
    // sessions setting mapreduce.fileoutputcommitter.marksuccessfuljobs
    // =false commit real data without the marker; reading those as torn
    // would make every isBuilt probe say "not built" and a stream fold
    // would silently REBUILD a serving index from one micro-batch. The
    // fallback: data files present + no _temporary staging = committed.
    val store = Files.createTempDirectory("graft_swap_nomark").toString + "/store"
    writeVersion(store, "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    hfs.delete(hp(StoreSwap.tmpPath(store) + "/_SUCCESS"), false) // marker-less committer
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v2"), "marker-less committed tmp must promote")
    // and committedPath (the isBuilt probe) resolves a marker-less store
    hfs.delete(hp(store + "/_SUCCESS"), false)
    assert(StoreSwap.committedPath(spark, store).contains(store),
      "marker-less committed store reads as built")
    // while _temporary-only staging still reads as NOT built
    val torn = Files.createTempDirectory("graft_swap_nomark2").toString + "/torn"
    hfs.mkdirs(hp(torn + "/_temporary"))
    assert(StoreSwap.committedPath(spark, torn).isEmpty,
      "a dir with only job staging inside is a torn write")
  }

  test("StoreSwap: a legitimately-EMPTY committed first version (markers disabled) reads as committed — the fold does not rebuild") {
    // r15 ADVICE low #1: under marksuccessfuljobs=false the marker-less
    // fallback cannot tell a committed-but-empty write (zero-row first
    // batch, a filter that matched nothing) from the empty dir a crashed
    // job leaves — so commit() discarded it as torn and every isBuilt
    // probe said "never built", silently rebuilding the store. The
    // writer-dropped EmptyMarker sidecar closes it.
    val store = Files.createTempDirectory("graft_swap_empty").toString + "/store"
    // a committed EMPTY write from a marker-less committer: zero part
    // files, no _SUCCESS, no _temporary
    writeVersion(StoreSwap.tmpPath(store), "none", 0)
    hfs.delete(hp(StoreSwap.tmpPath(store) + "/_SUCCESS"), false)
    hfs.listStatus(hp(StoreSwap.tmpPath(store))).foreach(st =>
      if (!st.getPath.getName.startsWith("_")) hfs.delete(st.getPath, false))
    // the writer KNOWS its job committed (write() returned) — it records
    // the committed-empty fact the way the default committer records
    // commit with _SUCCESS
    StoreSwap.markCommittedEmpty(spark, StoreSwap.tmpPath(store))
    StoreSwap.commit(spark, store)
    assert(hfs.exists(hp(store)), "committed empty first version promoted, not discarded as torn")
    assert(StoreSwap.committedPath(spark, store).contains(store),
      "the isBuilt probe must read a committed-empty store as BUILT — " +
        "a maintainer fold must fold into it, never rebuild from scratch")
    // ...while an UNMARKED empty dir (the crashed-job signature) still
    // reads as incomplete: the marker is the writer's assertion, absence
    // of data alone never promotes
    val crashed = Files.createTempDirectory("graft_swap_empty2").toString + "/crashed"
    hfs.mkdirs(hp(crashed))
    assert(StoreSwap.committedPath(spark, crashed).isEmpty,
      "an unmarked empty dir is still a torn write")
  }

  test("StoreSwap: a stale EmptyMarker next to live _temporary staging reads INCOMPLETE") {
    // the marker is commit evidence for the empty write that dropped it —
    // not for a LATER overwrite that crashed mid-job and left _temporary
    // next to it. Marker + live staging is ambiguous and must read torn,
    // mirroring the data-present fallback's _temporary gate.
    val store = Files.createTempDirectory("graft_swap_stale").toString + "/store"
    StoreSwap.markCommittedEmpty(spark, store)
    assert(StoreSwap.committedPath(spark, store).contains(store),
      "marker alone: a committed empty version")
    hfs.mkdirs(hp(store + "/_temporary")) // a later overwrite crashed mid-job
    assert(StoreSwap.committedPath(spark, store).isEmpty,
      "marker + live job staging must read incomplete — promoting it would serve torn data")
    // and commit() discards such a tmp rather than promoting it
    val s2 = Files.createTempDirectory("graft_swap_stale2").toString + "/store"
    writeVersion(s2, "v1", 10)
    StoreSwap.markCommittedEmpty(spark, StoreSwap.tmpPath(s2))
    hfs.mkdirs(hp(StoreSwap.tmpPath(s2) + "/_temporary"))
    StoreSwap.commit(spark, s2)
    assert(readTags(s2) == Set("v1"), "the complete version keeps serving")
    assert(!hfs.exists(hp(StoreSwap.tmpPath(s2))), "the ambiguous tmp is discarded as torn")
  }

  test("StoreSwap.commit fails LOUD on an ambiguous empty tmp under a markers-disabled session") {
    // under marksuccessfuljobs=false an empty unmarked tmp is equally a
    // crashed job's husk and a committed zero-row write whose producer
    // forgot markCommittedEmpty — silently discarding it is the one way
    // the protocol can throw away a committed version, so it must refuse
    // until the maintainer disambiguates (mark it, or delete the tmp).
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      val store = Files.createTempDirectory("graft_swap_husk").toString + "/store"
      hfs.mkdirs(hp(StoreSwap.tmpPath(store)))
      val e = intercept[IllegalStateException](StoreSwap.commit(spark, store))
      assert(e.getMessage.contains("markCommittedEmpty"),
        s"the error must name the resolution: ${e.getMessage}")
      assert(hfs.exists(hp(StoreSwap.tmpPath(store))),
        "the ambiguous tmp must survive the refusal for the maintainer to inspect")
      // resolution path 1: the writer asserts its empty write committed
      StoreSwap.markCommittedEmpty(spark, StoreSwap.tmpPath(store))
      StoreSwap.commit(spark, store)
      assert(StoreSwap.committedPath(spark, store).contains(store),
        "marked empty tmp promotes to a committed (empty) serving version")
      // resolution path 2: the maintainer deletes a crashed husk; commit
      // then no-ops (recovery mode on a healthy store)
      val s2 = Files.createTempDirectory("graft_swap_husk2").toString + "/store"
      hfs.mkdirs(hp(StoreSwap.tmpPath(s2)))
      hfs.delete(hp(StoreSwap.tmpPath(s2)), true)
      StoreSwap.commit(spark, s2) // nothing to do, nothing thrown
      // markers ON (the default) never reaches the refusal: an empty
      // unmarked tmp is unambiguously torn (committed writes carry
      // _SUCCESS) and is silently discarded as before
      hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
      val s3 = Files.createTempDirectory("graft_swap_husk3").toString + "/store"
      hfs.mkdirs(hp(StoreSwap.tmpPath(s3)))
      StoreSwap.commit(spark, s3)
      assert(!hfs.exists(hp(StoreSwap.tmpPath(s3))),
        "under default markers an empty tmp is a torn write, discarded")
    } finally hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("empty-bootstrap streamed fold passes under a markers-disabled session without manual intervention") {
    // r17 verdict item 4: the stream folds' live empty case — batch 0 of
    // an AvailableNow fold can be zero rows, and the bootstrap branch
    // builds the store from it. The build paths now (a) seal the
    // zero-file payload dir with the EmptyMarker (commit evidence a
    // markers-disabled session can read — StoreSwap.sealIfEmpty), and
    // (b) record the payload schema so reads serve EMPTY results, not
    // UNABLE_TO_INFER_SCHEMA, until data arrives. The fold then appends
    // forward with no manual intervention. Exercised under BOTH marker
    // modes: the schema fix is mode-independent; the marker seal is what
    // makes the markers-off session classify the store as built.
    import graft.operators.{LexIndex, ShingleStore}
    val emptyDocs = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    val batch = Seq((1L, "alpha beta gamma delta"), (2L, "alpha beta gamma zeta"))
      .toDF("doc_id", "text")
    val hc = spark.sparkContext.hadoopConfiguration
    for (markers <- Seq(true, false)) {
      hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", markers)
      try {
        val lex = Files.createTempDirectory(s"graft_eb_lex_$markers").toString + "/idx"
        LexIndex.build(spark, emptyDocs, lex, batchId = 0L)
        assert(LexIndex.isBuilt(spark, lex),
          s"markers=$markers: empty-bootstrap index must read as built")
        // read BEFORE any data: empty result, not an AnalysisException
        assert(LexIndex.bm25TopK(spark, lex, Seq("alpha"), 5).count() == 0L)
        LexIndex.append(spark, batch, lex, batchId = 1L)
        assert(LexIndex.bm25TopK(spark, lex, Seq("alpha"), 5).count() == 2L,
          s"markers=$markers: the fold continues past the empty bootstrap")

        val st = Files.createTempDirectory(s"graft_eb_sh_$markers").toString + "/st"
        ShingleStore.build(spark, emptyDocs, st, n = 3, batchId = 0L)
        assert(ShingleStore.isBuilt(spark, st))
        assert(ShingleStore.hashes(spark, st).count() == 0L)
        assert(ShingleStore.read(spark, st).columns.toSeq == Seq("doc_id", "hs"))
        ShingleStore.append(spark, batch, st, batchId = 1L)
        assert(ShingleStore.hashes(spark, st).count() == 2L,
          s"markers=$markers: the fold continues past the empty bootstrap")
      } finally hc.setBoolean(
        "mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
    }
  }

  test("bucket stores fold, look up and compact under a markers-disabled session") {
    // LabelStore used to require `_SUCCESS` on its staged writes, so every
    // bootstrap and every fold threw under marksuccessfuljobs=false; the
    // staged writes are now checked through StoreSwap's completeness rule
    import graft.streaming.{LabelStore, UpsertStore}
    val hc = spark.sparkContext.hadoopConfiguration
    hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", false)
    try {
      val up = Files.createTempDirectory("graft_mo_up").toString + "/store"
      val keys = Seq("k")
      UpsertStore.fold(spark, up, Seq((1L, "a"), (2L, "b")).toDF("k", "v"), keys, seq = 0)
      UpsertStore.fold(spark, up, Seq((2L, "b1")).toDF("k", "v"), keys, seq = 1)
      assert(!hfs.exists(hp(s"$up/_SUCCESS")), "fixture: the session must write no markers")
      UpsertStore.compact(spark, up, keys)
      assert(UpsertStore.lookup(spark, up, keys, Seq(Seq(2L))).get
        .as[(Long, String)].collect().toSeq == Seq(2L -> "b1"))
      assert(UpsertStore.read(spark, up, keys).get.as[(Long, String)].collect().toMap ==
        Map(1L -> "a", 2L -> "b1"))

      val lb = Files.createTempDirectory("graft_mo_lb").toString + "/labels"
      LabelStore.fold(spark, lb, Seq((1L, 2L), (3L, 4L)).toDF("src", "dst")) // bootstrap
      LabelStore.fold(spark, lb, Seq((2L, 3L)).toDF("src", "dst")) // per-bucket swap
      assert(!hfs.exists(hp(s"$lb/_SUCCESS")), "fixture: the session must write no markers")
      assert(LabelStore.lookup(spark, lb, Seq(4L)).get.as[(Long, Long)].collect().toSeq == Seq(4L -> 1L))
      LabelStore.compact(spark, lb)
      assert(LabelStore.read(spark, lb).get.as[(Long, Long)].collect().toMap ==
        Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
      Seq(up, lb).foreach { d =>
        assert(!hfs.exists(hp(StoreSwap.tmpPath(d))) && !hfs.exists(hp(StoreSwap.oldPath(d))))
      }
    } finally hc.setBoolean("mapreduce.fileoutputcommitter.marksuccessfuljobs", true)
  }

  test("StoreSwap rolls back a mid-swap crash whose tmp is ALSO torn (old=v1, tmp torn, store absent)") {
    val store = Files.createTempDirectory("graft_swap_rb").toString + "/store"
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v2", 12)
    tear(StoreSwap.tmpPath(store))
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v1"), "rollback must restore .old to the store path")
    assert(!hfs.exists(hp(StoreSwap.oldPath(store))) &&
      !hfs.exists(hp(StoreSwap.tmpPath(store))))
  }

  test("consolidate self-heals after a predecessor's mid-swap crash") {
    import graft.model.{FactKind, FactStore}
    val master = Files.createTempDirectory("graft_swap_cons").toString + "/master"
    FactStore.ingest(FactStore.eventsAsFacts(spark, sf0001).limit(200), master)
    val before = FactStore.readAll(spark, master).count()
    // simulate the crash state consolidate's own swap can leave: store
    // renamed away, new version not yet promoted
    writeVersion(StoreSwap.tmpPath(master), "junk", 1)
    tear(StoreSwap.tmpPath(master))
    assert(hfs.rename(hp(master), hp(StoreSwap.oldPath(master))))
    // re-running consolidate must recover and compact, not throw
    FactStore.consolidate(spark, master)
    assert(FactStore.readAll(spark, master).count() == before,
      "self-healed consolidate must preserve every row")
  }

  test("StoreSwap next batch over a crashed predecessor (store=v2, old=v1, tmp=v3) lands v3") {
    val store = Files.createTempDirectory("graft_swap_d").toString + "/store"
    writeVersion(store, "v2", 12)
    writeVersion(StoreSwap.oldPath(store), "v1", 10)
    writeVersion(StoreSwap.tmpPath(store), "v3", 14)
    StoreSwap.commit(spark, store)
    assert(readTags(store) == Set("v3"))
    assert(!hfs.exists(hp(StoreSwap.tmpPath(store))) &&
      !hfs.exists(hp(StoreSwap.oldPath(store))))
  }

  test("a label-store maintainer on StoreSwap survives a mid-swap crash: prior labels NOT discarded") {
    // the failure mode the round-9 verdict called the engine's worst: a
    // crash between delete and rename left a serving store absent, and a
    // maintainer's bare exists() check silently restarted state from
    // empty. Reproduce the crash state and run the readablePath
    // bootstrap a StoreSwap maintainer uses. (StoreSwap now guards the
    // consolidate maintainers — FactStore/VectorIndex; the streamed
    // maintainers moved to finer-grained delta stores whose crash
    // stories are pinned in LabelStoreSpec / UpsertStoreSpec.)
    val labelsDir = Files.createTempDirectory("graft_swap_cc").toString + "/labels"
    // a valid prior labeling (every CC component has >= 2 nodes — the
    // star-edge contract of connectedComponentsIncremental)
    Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 3L)).toDF("node", "label")
      .coalesce(1).write.parquet(StoreSwap.oldPath(labelsDir)) // crashed mid-swap
    writeVersion(StoreSwap.tmpPath(labelsDir), "half-written", 1)
    val existing = StoreSwap.readablePath(spark, labelsDir)
      .map(p => spark.read.parquet(p))
      .getOrElse(spark.range(0).select(col("id").as("node"), col("id").as("label")))
    assert(existing.count() == 4,
      "prior labeling must be recovered from .old, not restarted from empty")
    // and folding the next batch from the recovered labeling keeps them
    val edges = Seq((4L, 2L)).toDF("src", "dst")
    val updated = graft.operators.GraphOps
      .connectedComponentsIncremental(existing, edges)
    updated.write.mode("overwrite").parquet(StoreSwap.tmpPath(labelsDir))
    StoreSwap.commit(spark, labelsDir)
    val labels = spark.read.parquet(labelsDir)
      .as[(Long, Long)].collect().toMap
    assert(labels.keySet == Set(1L, 2L, 3L, 4L, 5L), "all prior nodes retained")
    assert(labels(4L) == labels(2L) && labels(2L) == labels(1L),
      "new edge folded into the recovered component")
    assert(labels(5L) == labels(3L), "untouched component survives the crash")
  }
}
