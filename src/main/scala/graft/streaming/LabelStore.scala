package graft.streaming

import graft.model.{BucketStore, StoreSwap}
import graft.operators.GraphOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned persistent label store for the speed-layer
  * connected-components maintainer (`stream_cc`).
  *
  * The round-9 form rewrote the WHOLE node-sized labeling every
  * microbatch — at 100 TB the labeling is billions of rows and a
  * microbatch touches a sliver of them, so whole-store I/O per batch is
  * the scale bug. Here the store is hash-partitioned by node into
  * `bucket=` directories and each fold rewrites ONLY the buckets that
  * contain a changed or new label; untouched buckets' files are left
  * physically identical (LabelStoreSpec asserts byte-for-byte).
  *
  * Changed buckets are swapped in with [[graft.model.BucketStore]]'s
  * PER-BUCKET TWO-RENAME (round 11; before that a dynamic partition
  * overwrite, whose job commit DELETES a bucket's files before renaming
  * staged replacements in — a crash in that window left the bucket
  * EMPTY, permanently forgetting prior labels for nodes not in the
  * replayed batch). BucketStore also owns the buckets, the modulus
  * sidecar, recovery, the whole-dir replace of the bootstrap and
  * [[compact]], and the trigger; its scaladoc holds the crash story and
  * the single-writer contract. What this store adds to it:
  *
  *   - Connectivity facts are MONOTONE: an edge once seen never becomes
  *     false, and CC labels only ever decrease (min-id labeling). A
  *     torn fold — some buckets new, some old — is therefore still a
  *     VALID connectivity compression: every (node → label) star edge
  *     it contains is true of the accumulated graph, so folding the
  *     next batch from it converges to the same labeling, and
  *     re-folding a replayed microbatch whose swap was cut converges.
  *   - [[read]] and [[lookup]] run [[graft.model.BucketStore.recover]]
  *     first (a bucket moved aside but not yet replaced is absent from
  *     `dir`), so absence is repaired before anything interprets it —
  *     which makes even the serve hook a store-owner call (exactly how
  *     stream_cc uses it: foreachBatch folds, then serves). They also
  *     collapse duplicate rows with `min(label)` per node —
  *     labels-only-decrease makes min() "the newest value", an
  *     idempotent repair costing one node-keyed aggregation.
  */
object LabelStore {

  /** Buckets for the labeling. At the declared fixture scale a handful;
    * production sizes this so a bucket's parquet is ~128 MB
    * (nodes/bucket × ~16 B). Must stay FIXED across the store's life —
    * it is the hash partitioning the delta detection keys on.
    */
  val DefaultBuckets = 8

  /** Part files a bucket may hold before [[needsCompact]] fires. A fold
    * rewrites a changed bucket with up to one file per shuffle
    * partition holding its rows, so bucket file counts stay bounded per
    * fold but can sit above the ~1-file serving ideal.
    */
  val DefaultMaxFilesPerBucket = 16

  private def bucketed(rows: DataFrame, n: Int): DataFrame =
    rows.withColumn("bucket", BucketStore.bucketCol(Seq("node"), n))

  /** Repair any torn swap ([[graft.model.BucketStore.recover]]).
    * Idempotent; driver-side metadata ops only. Run by [[fold]],
    * [[read]], [[lookup]] and [[compact]].
    */
  def recover(spark: SparkSession, dir: String): Unit = BucketStore.recover(spark, dir)

  /** The store's root after [[recover]]; None if never written. */
  private def repaired(spark: SparkSession, dir: String): Option[String] = {
    recover(spark, dir)
    StoreSwap.readablePath(spark, dir)
  }

  private def minLabel(rows: DataFrame): DataFrame =
    rows.groupBy("node").agg(min("label").as("label"))

  /** Current labeling: (node, label), torn swaps repaired by
    * [[recover]] and torn-commit duplicates by the min-fold. Returns
    * None if the store has never been written.
    */
  def read(spark: SparkSession, dir: String): Option[DataFrame] =
    repaired(spark, dir).map(root => minLabel(spark.read.parquet(root)))

  /** Fold one edge batch into the store, AFFECTED-COMPONENT scoped:
    * only the components the batch touches are read into the CC
    * iteration, and only the buckets holding a changed label are
    * rewritten. The store is never shuffle-aggregated whole:
    *
    *   1. seed labels = labels of the batch's nodes (store scan with a
    *      broadcast batch-node join — no store shuffle);
    *   2. affected = every store row labeled with a seed label — the
    *      complete membership of the touched components (one more
    *      broadcast-semi scan), materialized once, AFFECTED-sized;
    *   3. incremental CC over (affected stars ∪ batch edges) — the
    *      iteration's shuffles are affected-sized, never store-sized;
    *   4. changed buckets = buckets of relabeled/new nodes (bounded by
    *      the bucket count — a driver-safe collect that becomes the
    *      static partition filter for the rewrite read);
    *   5. new bucket content = min-per-node over (current bucket rows ∪
    *      scoped-CC labels): the labels-only-decrease invariant makes
    *      min() correct even against rows the scoped view did not pull
    *      in (a torn store can leave a stale seed label whose scoped
    *      component misses a node's newest link; the node's newer —
    *      smaller — on-disk label then wins the min and no connectivity
    *      is ever forgotten). Changed-bucket-sized shuffle, swapped in
    *      per bucket by [[graft.model.BucketStore.swapBuckets]] (the
    *      plan reads the live buckets while staging elsewhere — no
    *      lineage cut needed).
    *
    * Self-loops carry no connectivity and are dropped first, so a batch
    * of only self-loops folds to nothing like an empty one (and never
    * bootstraps a store holding no labels). The first non-empty batch
    * bootstraps the store: its full labeling, all buckets, through the
    * whole-dir [[graft.model.BucketStore.replace]].
    *
    * Cost shape per fold at 100 TB: two column-pruned store SCANS (the
    * affected discovery cannot be partition-pruned — membership of a
    * touched component lives in arbitrary buckets) plus one
    * partition-pruned read of the changed buckets; every SHUFFLE and
    * materialization is affected- or changed-bucket-sized. The
    * node-sized groupBy the serving [[read]] performs happens once at
    * serve time, not per microbatch.
    */
  def fold(spark: SparkSession, dir: String, edges: DataFrame,
      nBuckets: Int = DefaultBuckets): Unit = {
    // an empty batch folds to nothing — and must not bootstrap an
    // empty DIRECTORY (a dir holding only _SUCCESS fails schema
    // inference on the next read; cheap limit-1 probe)
    val linked = edges.where(col("src") =!= col("dst"))
    if (linked.isEmpty) return
    if (repaired(spark, dir).isEmpty)
      BucketStore.replace(spark, dir,
        bucketed(GraphOps.connectedComponents(linked), nBuckets), Some(nBuckets))
    else {
      BucketStore.pinModulus(spark, dir, nBuckets)
      val store = spark.read.parquet(dir).select("node", "label", "bucket")
      val batchNodes = linked.select(col("src").as("node"))
        .unionAll(linked.select(col("dst").as("node"))).distinct()
      val seedLabels = store.join(broadcast(batchNodes), Seq("node"))
        .select("label").distinct()
      val affected = store
        .join(broadcast(seedLabels), Seq("label"), "left_semi")
        .select("node", "label")
        .localCheckpoint() // feeds the CC iterations AND the change diff
      val updated = bucketed(GraphOps.connectedComponentsIncremental(affected, linked), nBuckets)
      val oldMin = affected.groupBy("node").agg(min("label").as("old_label"))
      val changedBuckets = updated
        .join(oldMin, Seq("node"), "left_outer")
        .where(col("old_label").isNull || col("old_label") =!= col("label"))
        .select("bucket").distinct()
        .collect().map(_.getInt(0)).toSeq
      if (changedBuckets.nonEmpty) {
        val changed = col("bucket").isin(changedBuckets: _*)
        BucketStore.swapBuckets(spark, dir,
          store.where(changed) // partition-pruned
            .unionByName(updated.where(changed).select("node", "label", "bucket"))
            .groupBy("node", "bucket").agg(min("label").as("label"))
            .select("node", "label", "bucket"),
          changedBuckets)
      }
      BucketStore.recordModulus(spark, dir, nBuckets) // heals pre-sidecar stores
    }
  }

  /** Point lookup — the canonical-id serving read (the reference's
    * id-normalization output feeds query-time rewrites; a serving layer
    * resolves a handful of node ids, not the labeling): the current
    * label of each node in `nodes`, reading ONLY those nodes' bucket
    * directories ([[graft.model.BucketStore.lookup]]: driver-side bucket
    * ids, cast to the store's node type); the min-fold repairs
    * torn-commit duplicates exactly as [[read]] does. Results ≡
    * `read(...).filter(node in nodes)` (LabelStoreSpec pins both the
    * equivalence and the partition count).
    *
    * The modulus comes from the store's own sidecar — never trusted from
    * a parameter. `nBuckets` remains only as an explicit override for
    * pre-sidecar stores (0 = read the sidecar, the default). None if the
    * store has never been written.
    */
  def lookup(spark: SparkSession, dir: String, nodes: Seq[Any],
      nBuckets: Int = 0): Option[DataFrame] =
    repaired(spark, dir).map { root =>
      minLabel(BucketStore.lookup(spark, root, Seq("node"), nodes.map(Seq(_)), nBuckets))
    }

  /** Part-file count of the fullest bucket (driver metadata only). */
  def maxFilesPerBucket(spark: SparkSession, dir: String): Int =
    BucketStore.maxFilesPerBucket(spark, dir)

  /** Maintenance trigger: a fold rewrites a changed bucket with up to
    * one file per shuffle partition, so hot buckets drift above the
    * ~1-file serving ideal. See the single-writer contract.
    */
  def needsCompact(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    BucketStore.needsCompact(spark, dir, maxFiles)

  /** Rewrite the whole labeling at ~1 file per bucket (min-per-node
    * collapses any torn-commit duplicates in the same pass) through the
    * whole-dir [[graft.model.BucketStore.replace]]. Run in maintenance
    * windows, not under a live fold.
    *
    * PINNED to the store's recorded bucket count by default
    * (`nBuckets = 0` reads the sidecar): compacting under a different
    * modulus than folds use would change the partitioning the delta
    * detection keys on. Passing an explicit count is a deliberate
    * RESHARD — the sidecar is rewritten to the new modulus (it rides the
    * swap), so subsequent folds must use it.
    */
  def compact(spark: SparkSession, dir: String,
      nBuckets: Int = 0): Unit = {
    recover(spark, dir)
    val n =
      if (nBuckets > 0) nBuckets
      else BucketStore.modulus(spark, dir).getOrElse(DefaultBuckets)
    BucketStore.replace(spark, dir, bucketed(minLabel(spark.read.parquet(dir)), n), Some(n))
  }

  /** Run [[compact]] iff [[needsCompact]]; returns whether it ran.
    * `nBuckets = 0` = the store's recorded modulus (see [[compact]]).
    */
  def maintain(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket,
      nBuckets: Int = 0): Boolean =
    BucketStore.maintain(spark, dir, maxFiles)(compact(spark, dir, nBuckets))
}
