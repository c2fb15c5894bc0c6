package graft

import java.nio.file.Files

import graft.streaming.LabelStore
import org.apache.spark.sql.functions._

/** The delta-partitioned speed-layer label store: folds rewrite only the
  * buckets whose labels changed (untouched buckets byte-identical on
  * disk), the labeling always equals the full recompute, and the
  * min-fold read repairs torn-commit duplicates.
  */
class LabelStoreSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft_labelstore").toString + "/labels"

  /** (relative path → (length, checksum)) for every data file under dir. */
  private def fileStates(dir: String): Map[String, (Long, Long)] = {
    val base = new java.io.File(dir)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    walk(base)
      .filter(f => f.getName.endsWith(".parquet"))
      .map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        val crc = new java.util.zip.CRC32
        crc.update(bytes)
        f.getPath.stripPrefix(base.getPath) -> (f.length(), crc.getValue)
      }.toMap
  }

  private def labelsOf(dir: String): Map[Long, Long] =
    LabelStore.read(spark, dir).get
      .as[(Long, Long)].collect().toMap

  test("a fold touching one component rewrites only its buckets; others byte-identical") {
    val dir = freshDir()
    // bootstrap: many small components spread across all 8 buckets
    val edges0 = Seq.tabulate(64)(i => (i.toLong, (i + 1000).toLong))
      .toDF("src", "dst")
    LabelStore.fold(spark, dir, edges0)
    val before = fileStates(dir)
    assert(before.nonEmpty)
    val bucketsOnDisk = before.keySet.map(_.split("/").find(_.startsWith("bucket=")).get)
    assert(bucketsOnDisk.size == LabelStore.DefaultBuckets,
      s"fixture must populate every bucket, got $bucketsOnDisk")

    // batch 2: one new edge joining node 0's component to a new node —
    // only the buckets of the relabeled/new nodes may be rewritten
    LabelStore.fold(spark, dir, Seq((5000L, 0L)).toDF("src", "dst"))
    val after = fileStates(dir)

    val changedNodes = Seq(5000L) // 0 and 1000 keep their min-id label 0
    val changedBuckets = changedNodes
      .map(n => spark.range(1).select(pmod(hash(lit(n)), lit(8))).head().getInt(0))
      .map(b => s"bucket=$b").toSet
    val untouched = before.keySet.filterNot(p => changedBuckets.exists(p.contains))
    assert(untouched.nonEmpty, "fixture must leave some buckets untouched")
    untouched.foreach { p =>
      assert(after.get(p).contains(before(p)),
        s"untouched bucket file $p was rewritten (or removed) by the fold")
    }
    // and the changed buckets WERE rewritten (new file names per job)
    assert(changedBuckets.exists(b => !before.keySet.filter(_.contains(b))
      .forall(p => after.get(p).contains(before(p)))),
      "the changed bucket must actually be rewritten")
  }

  test("sequential folds equal the full recompute over all edges") {
    val dir = freshDir()
    val batch1 = Seq((1L, 2L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    val batch2 = Seq((2L, 3L), (20L, 21L)).toDF("src", "dst") // merges {1,2} with {3,4}
    val batch3 = Seq((4L, 20L)).toDF("src", "dst") // merges again
    LabelStore.fold(spark, dir, batch1)
    LabelStore.fold(spark, dir, batch2)
    LabelStore.fold(spark, dir, batch3)
    val got = labelsOf(dir)
    val full = graft.operators.GraphOps
      .connectedComponents(batch1.union(batch2).union(batch3))
      .as[(Long, Long)].collect().toMap
    assert(got == full, "folded labeling must equal the full recompute")
  }

  test("scoped fold: cross-component merge relabels BOTH touched components; bystander untouched") {
    // the affected-component scoping must pull the COMPLETE membership
    // of every touched component (not just the batch nodes), or a
    // merge would relabel only the members it happened to see
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (11L, 12L), (20L, 21L))
        .toDF("src", "dst"))
    val before = labelsOf(dir)
    assert(before == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
    // one edge between NON-canonical members merges the two components;
    // every member — including 3 and 12, never named in any batch edge
    // with the other component — must land on the min id 1
    LabelStore.fold(spark, dir, Seq((3L, 12L)).toDF("src", "dst"))
    val after = labelsOf(dir)
    assert(Seq(1L, 2L, 3L, 10L, 11L, 12L).forall(after(_) == 1L),
      s"merge must relabel both components wholly: $after")
    assert(after(20L) == 20L && after(21L) == 20L, "bystander component untouched")
  }

  test("empty edge batches fold to nothing: no empty-directory bootstrap") {
    val dir = freshDir()
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    LabelStore.fold(spark, dir, empty)
    assert(LabelStore.read(spark, dir).isEmpty,
      "an empty first batch must not create an unreadable empty store")
    LabelStore.fold(spark, dir, Seq((1L, 2L)).toDF("src", "dst"))
    LabelStore.fold(spark, dir, empty)
    assert(labelsOf(dir) == Map(1L -> 1L, 2L -> 1L))
  }

  test("a self-loop-only first batch folds to nothing: the store stays readable") {
    // a bootstrap from self-loops alone used to commit a store holding no
    // part files, after which every read, lookup and fold threw
    // UNABLE_TO_INFER_SCHEMA
    val dir = freshDir()
    LabelStore.fold(spark, dir, Seq((5L, 5L), (6L, 6L)).toDF("src", "dst"))
    assert(LabelStore.read(spark, dir).isEmpty && LabelStore.lookup(spark, dir, Seq(5L)).isEmpty,
      "a self-loop-only first batch must not create an unreadable store")
    LabelStore.fold(spark, dir, Seq((1L, 2L), (7L, 7L)).toDF("src", "dst"))
    LabelStore.fold(spark, dir, Seq((2L, 2L)).toDF("src", "dst"))
    assert(labelsOf(dir) == Map(1L -> 1L, 2L -> 1L))
    assert(LabelStore.lookup(spark, dir, Seq(2L)).get.as[(Long, Long)].collect().toSeq == Seq(2L -> 1L))
  }

  test("min-fold read repairs torn-commit duplicates (labels only decrease)") {
    val dir = freshDir()
    LabelStore.fold(spark, dir, Seq((1L, 2L), (2L, 3L)).toDF("src", "dst"))
    // simulate a torn dynamic overwrite: an old, higher label for node 3
    // survives alongside the new row in its bucket directory
    val bucket3 = spark.range(1).select(pmod(hash(lit(3L)), lit(8))).head().getInt(0)
    Seq((3L, 2L)).toDF("node", "label")
      .write.mode("append").parquet(s"$dir/bucket=$bucket3")
    val raw = spark.read.parquet(dir).where(col("node") === 3L).count()
    assert(raw == 2, "fixture: the torn duplicate must be on disk")
    val labels = labelsOf(dir)
    assert(labels(3L) == 1L,
      "read must repair the duplicate to the newest (minimum) label")
    // and folding onward from the torn state converges to the truth
    LabelStore.fold(spark, dir, Seq((3L, 4L)).toDF("src", "dst"))
    val after = labelsOf(dir)
    assert(after == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("per-bucket swap crash windows: a bucket is never absent-and-forgotten") {
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def P(s: String) = new org.apache.hadoop.fs.Path(s)

    // window 1: crash BETWEEN the two renames of one bucket — the live
    // bucket dir is ABSENT, its content preserved under dir.old. Before
    // round 11 (dynamic partition overwrite) this state was an EMPTY
    // bucket: prior labels for nodes not in the replayed batch were
    // permanently lost. Now read()/fold() rename it back first.
    val d1 = freshDir()
    LabelStore.fold(spark, d1,
      Seq.tabulate(32)(i => (i.toLong, (i + 1000).toLong)).toDF("src", "dst"))
    val before = labelsOf(d1)
    val victim = spark.range(1).select(pmod(hash(lit(0L)), lit(8))).head().getInt(0)
    // the faithful r15 crash state: the fold wrote its staging dir and
    // the _displaced manifest BEFORE the first rename, so a mid-loop
    // crash always leaves both beside the displaced bucket
    f.mkdirs(P(s"$d1.tmp"))
    val mOut = f.create(P(s"$d1.tmp/_displaced"), true)
    mOut.write(victim.toString.getBytes("UTF-8")); mOut.close()
    f.mkdirs(P(s"$d1.old"))
    require(f.rename(P(s"$d1/bucket=$victim"), P(s"$d1.old/bucket=$victim")))
    assert(labelsOf(d1) == before,
      "a mid-swap-absent bucket must be recovered, not read as forgotten labels")
    assert(f.exists(P(s"$d1/bucket=$victim")) && !f.exists(P(s"$d1.old")),
      "recovery must restore the bucket and clean the .old staging")
    assert(!f.exists(P(s"$d1.tmp")), "staging (and its manifest) cleaned after recovery")

    // window 2: crash between staging and the first rename — dir.tmp
    // holds a complete staged write; it is DISCARDED (replay re-folds),
    // never promoted, and the store is untouched
    val d2 = freshDir()
    LabelStore.fold(spark, d2, Seq((1L, 2L)).toDF("src", "dst"))
    val want = labelsOf(d2)
    Seq((99L, 1L)).toDF("node", "label")
      .withColumn("bucket", pmod(hash(col("node")), lit(8)))
      .write.partitionBy("bucket").parquet(s"$d2.tmp")
    assert(labelsOf(d2) == want, "stale staging must never leak into reads")
    assert(!f.exists(P(s"$d2.tmp")), "read must discard the stale staging")
    LabelStore.fold(spark, d2, Seq((2L, 3L)).toDF("src", "dst"))
    assert(labelsOf(d2) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))

    // window 3: fold mid-swap with SOME buckets already swapped — the
    // store is a valid old/new bucket mixture; folding onward converges
    val d3 = freshDir()
    LabelStore.fold(spark, d3,
      Seq((1L, 2L), (10L, 11L)).toDF("src", "dst"))
    // hand-plant a torn mixture: node 11 relabeled to 10's component min
    // in its bucket, node 10's bucket left stale — monotone-valid
    LabelStore.fold(spark, d3, Seq((11L, 12L)).toDF("src", "dst"))
    assert(labelsOf(d3) == Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("file-count drift trips needsCompact; compact restores ~1 file/bucket, reads unchanged") {
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq.tabulate(64)(i => (i.toLong, (i + 1).toLong)).toDF("src", "dst"))
    assert(!LabelStore.needsCompact(spark, dir, maxFiles = 4))
    // At production scale a changed bucket's rewrite lands one file per
    // shuffle partition holding its rows; at fixture scale AQE coalesces
    // every rewrite to one file, so the drifted state is planted
    // directly: extra files of monotone-valid rows (the same labels the
    // bucket already holds — a torn commit leaves exactly these)
    val bucket0 = spark.range(1).select(pmod(hash(lit(0L)), lit(8))).head().getInt(0)
    (0 until 5).foreach { _ =>
      Seq((0L, 0L)).toDF("node", "label")
        .coalesce(1).write.mode("append").parquet(s"$dir/bucket=$bucket0")
    }
    assert(LabelStore.needsCompact(spark, dir, maxFiles = 4),
      s"planted drift must trip the trigger, max=${LabelStore.maxFilesPerBucket(spark, dir)}")
    val before = labelsOf(dir)
    assert(LabelStore.maintain(spark, dir, maxFiles = 4))
    assert(labelsOf(dir) == before, "compaction must not change the labeling")
    assert(LabelStore.maxFilesPerBucket(spark, dir) <= 2,
      s"compacted store still holds ${LabelStore.maxFilesPerBucket(spark, dir)} files in a bucket")
    assert(!LabelStore.needsCompact(spark, dir, maxFiles = 4))
    // folds keep working after compaction
    LabelStore.fold(spark, dir, Seq((0L, 200L)).toDF("src", "dst"))
    assert(labelsOf(dir)(200L) == 0L)
  }

  test("a compact-crash leftover .old: out-of-modulus buckets SKIPPED, not resurrected") {
    // compact() swapped the new version in (its StoreSwap step 3) but
    // crashed before deleting `.old`. A REAL leftover holds the complete
    // pre-compact store — every node also lives in the live version
    // (compact never drops nodes), possibly with STALE (larger) labels.
    // recover must not lose any current label; since r15 the rule is
    // manifest-gated — a manifest-less .old beside a live store is a
    // superseded whole-swap leftover in its entirety (folds delete .old
    // strictly before their staging dir, so every fold crash state
    // still carries the manifest) and is dropped whole.
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    val dir = freshDir()
    LabelStore.fold(spark, dir, Seq((1L, 2L), (1L, 3L)).toDF("src", "dst"), nBuckets = 4)
    val want = labelsOf(dir)
    // the superseded pre-compact version: node 3 still carries its stale
    // pre-merge label (3 >= the current 1 — monotone-valid), under an
    // out-of-modulus bucket id (7) from before a shrinking reshard
    Seq((3L, 3L)).toDF("node", "label")
      .withColumn("bucket", lit(7))
      .coalesce(1).write.partitionBy("bucket").parquet(s"$dir.old")
    assert(labelsOf(dir) == want, "reads unchanged across the cleanup")
    assert(!f.exists(P(s"$dir.old")), "the leftover .old must be cleaned")
    assert(!f.exists(P(s"$dir/bucket=7")),
      "an out-of-modulus .old bucket (7 >= modulus 4) is a reshard " +
        "leftover — skipped, never renamed into the live store")
    assert(labelsOf(dir) == want)
  }

  test("crashed GROWING reshard with a legitimately-empty live twin restores NOTHING") {
    // the r14 presence-probe's blind spot (r14 ADVICE → r15): a reshard
    // to a LARGER modulus whose new partitioning leaves some bucket
    // with no nodes creates no dir for it; the crashed swap's leftover
    // .old then holds an IN-modulus bucket id missing from live, which
    // the probe read as "fold-displaced — restore", injecting stale
    // old-modulus rows that only the min-fold absorbed. Manifest-gated
    // recovery restores nothing here: no staging dir, no manifest, so
    // the whole .old is a superseded version and dies.
    val f = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def P(s: String) = new org.apache.hadoop.fs.Path(s)
    val dir = freshDir()
    // live store: reshard to modulus 4 completed (StoreSwap step 3 done),
    // with bucket=1 legitimately EMPTY — no node hashes there
    Seq((1L, 1L), (2L, 1L)).toDF("node", "label")
      .withColumn("bucket", lit(0))
      .coalesce(1).write.partitionBy("bucket").parquet(dir)
    graft.model.BucketStore.recordModulus(spark, dir, 4)
    val want = labelsOf(dir)
    // the superseded pre-reshard version (modulus 2): bucket=1 is
    // IN-modulus for the live sidecar (1 < 4) and missing from live —
    // exactly the state the probe mis-restored; its node 2 row carries
    // a STALE label under the OLD partitioning
    Seq((2L, 2L)).toDF("node", "label")
      .withColumn("bucket", lit(1))
      .coalesce(1).write.partitionBy("bucket").parquet(s"$dir.old")
    assert(labelsOf(dir) == want,
      "no stale old-modulus rows may leak into reads — not even min-absorbable ones")
    assert(!f.exists(P(s"$dir.old")), "superseded .old dropped whole")
    assert(!f.exists(P(s"$dir/bucket=1")),
      "the empty live twin stays empty: nothing was resurrected into it")
  }

  test("compact defaults to the recorded modulus; an explicit count reshards and re-pins it") {
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq.tabulate(32)(i => (i.toLong, (i + 100).toLong)).toDF("src", "dst"),
      nBuckets = 16)
    val before = labelsOf(dir)
    // default compact must keep the fold-time 16-bucket partitioning
    // (compacting under a different modulus breaks the changed-bucket
    // delta detection folds key on)
    LabelStore.compact(spark, dir)
    assert(labelsOf(dir) == before)
    LabelStore.fold(spark, dir, Seq((0L, 500L)).toDF("src", "dst"), nBuckets = 16)
    assert(labelsOf(dir)(500L) == 0L)
    // explicit count = deliberate reshard: the sidecar follows, so the
    // old modulus is rejected and the new one required
    LabelStore.compact(spark, dir, nBuckets = 4)
    val e = intercept[IllegalArgumentException] {
      LabelStore.fold(spark, dir, Seq((1L, 501L)).toDF("src", "dst"), nBuckets = 16)
    }
    assert(e.getMessage.contains("nBuckets"))
    LabelStore.fold(spark, dir, Seq((1L, 501L)).toDF("src", "dst"), nBuckets = 4)
    assert(labelsOf(dir)(501L) == 1L)
  }

  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      allNodes(a.executedPlan)
    case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(s.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  test("lookup prunes the scan to the nodes' buckets and equals the filtered full read") {
    val dir = freshDir()
    LabelStore.fold(spark, dir,
      Seq.tabulate(64)(i => (i.toLong, (i + 1000).toLong)).toDF("src", "dst"))
    // modulus from the sidecar, not the caller
    val looked = LabelStore.lookup(spark, dir, Seq(3L, 1004L)).get
    looked.collect() // materialize so the executed plan is final
    val expect = LabelStore.read(spark, dir).get
      .where($"node".isin(3L, 1004L)).as[(Long, Long)].collect().toSet
    assert(looked.as[(Long, Long)].collect().toSet == expect)
    assert(expect == Set(3L -> 3L, 1004L -> 4L))
    // partitions read = |distinct buckets(nodes)|
    val wanted = spark.range(1).select(
      pmod(hash(lit(3L)), lit(LabelStore.DefaultBuckets)),
      pmod(hash(lit(1004L)), lit(LabelStore.DefaultBuckets))).head()
    val nWanted = Set(wanted.getInt(0), wanted.getInt(1)).size
    val scans = allNodes(looked.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the lookup plan")
    val scanned = scans.map(_.selectedPartitions.partitionCount).max
    assert(scanned == nWanted,
      s"lookup read $scanned of ${LabelStore.DefaultBuckets} buckets; wanted $nWanted")
    // an Int probe for the store's Long node column must still hash to
    // the right bucket (hash is type-sensitive)
    assert(LabelStore.lookup(spark, dir, Seq(3)).get
      .as[(Long, Long)].collect().toSet == Set(3L -> 3L))
    // a never-written store has no labels to serve
    assert(LabelStore.lookup(spark, freshDir(), Seq(1L)).isEmpty)
  }
}
