package graft.streaming

import graft.model.{BucketStore, StoreSwap}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucket-partitioned LSM-flavored upsert store for streamed serving
  * views (`stream_upsert`'s maintainer).
  *
  * The round-9 form re-read and re-wrote the WHOLE serving store every
  * microbatch (anti-join + union + swap) — at 100 TB the store is the
  * full keyspace and a microbatch touches a sliver, so whole-store I/O
  * per batch is the same scale bug the label store had. Here a fold is
  * pure APPEND: the change batch lands as new files in its keys' hash
  * buckets carrying a monotone `_seq` (Structured Streaming's batchId)
  * and a `_deleted` tombstone flag; nothing existing is read, rewritten
  * or renamed. Reads resolve each key to its highest-_seq version and
  * drop tombstones; [[lookup]] is the point-read form (the ElephantDB
  * random-read role this store replaces — `BatchWorkflow.java:359-364`):
  * it prunes the scan to the looked-up keys' bucket directories.
  * [[compact]] is the offline maintenance pass that rewrites the store
  * down to one live row per key (the batch layer to the folds' speed
  * layer — the Lambda shape at the storage level); [[needsCompact]] /
  * [[maintain]] are the files-per-bucket trigger policy.
  *
  * The buckets, the modulus sidecar, recovery, the staged whole-dir
  * replace of [[compact]] and the trigger are [[graft.model.BucketStore]],
  * whose scaladoc holds the crash story and the single-writer contract.
  * What this store adds: Structured Streaming replays an uncommitted
  * batch with the SAME batchId, so the retry writes rows with the same
  * `_seq`, and reads collapse exact (key, _seq) duplicates — replay is
  * idempotent. Reads stay pure: they resolve the current version through
  * `StoreSwap.readablePath` and never repair anything.
  */
object UpsertStore {

  /** Hash buckets for the keyspace; FIXED for the store's life (it is
    * the partitioning folds append into). Production sizes this so a
    * compacted bucket is ~128 MB.
    */
  val DefaultBuckets = 8

  /** Folds-per-bucket a bucket may accumulate before [[needsCompact]]
    * fires. Each fold adds O(shuffle-partitions-touching-the-bucket)
    * files; past this the read-side merge (and open-file count) starts
    * to dominate — the LSM "too many sorted runs" signal.
    */
  val DefaultMaxFilesPerBucket = 16

  /** Append one change batch: `deletedCol` (if set) names a Boolean
    * column of `batch` marking tombstone rows — it is consumed into the
    * store's `_deleted` flag (NULL = not deleted: a nullable CDC op
    * flag must not silently drop live rows through three-valued
    * `!null`), so payload schemas stay identical across folds with and
    * without deletes. `seq` must be monotone across folds —
    * foreachBatch's batchId is exactly that. Writes ONLY into the batch
    * keys' bucket directories; existing files are never touched.
    *
    * Contract: a batch carries AT MOST ONE row per key. Rows sharing a
    * key within one fold also share `_seq`, and the read-side argmax
    * would resolve them arbitrarily — a DataFrame has no row order to
    * define "last write wins" inside a batch. Pre-aggregate multi-op
    * CDC batches to their final per-key state before folding (what a
    * keyed CDC feed does anyway).
    */
  def fold(spark: SparkSession, dir: String, batch: DataFrame,
      keys: Seq[String], seq: Long, deletedCol: Option[String] = None,
      nBuckets: Int = DefaultBuckets): Unit = {
    // an empty batch must not create an empty directory (a dir holding
    // only _SUCCESS fails schema inference on the next read)
    if (batch.isEmpty) return
    // an append into a compact-cut, absent `dir` would found a new store
    // holding only this batch: roll the cut swap back first
    BucketStore.recover(spark, dir)
    BucketStore.pinModulus(spark, dir, nBuckets)
    val withDel = deletedCol match {
      case Some(c) => batch.withColumn(c, coalesce(col(c), lit(false)))
        .withColumnRenamed(c, "_deleted")
      case None => batch.withColumn("_deleted", lit(false))
    }
    BucketStore.append(spark, dir, withDel.withColumn("_seq", lit(seq)), keys, nBuckets)
  }

  /** One-pass latest-version resolve: max_by over the non-key columns
    * keyed on `_seq` — a map-side-combinable argmax aggregate, not a
    * per-key window and not a max+self-join (which would scan the store
    * twice). One row per key by construction, so the exact duplicates a
    * replayed fold leaves (same key, same _seq, same content) collapse
    * for free. Tombstoned keys and the bookkeeping columns are dropped.
    */
  private def live(rows: DataFrame, keys: Seq[String]): DataFrame = {
    val carried = rows.columns.filterNot(keys.contains)
    rows.groupBy(keys.map(col): _*)
      .agg(max_by(struct(carried.map(col): _*), col("_seq")).as("_r"))
      .select(keys.map(col) ++ carried.map(c => col(s"_r.$c").as(c)): _*)
      .where(!col("_deleted"))
  }

  /** Current state: latest version per key, tombstones dropped,
    * bookkeeping columns removed. None if the store has never been
    * written. Resolves a mid-compact-crash store through
    * `StoreSwap.readablePath` (absence-during-swap is NOT "empty").
    */
  def read(spark: SparkSession, dir: String, keys: Seq[String]): Option[DataFrame] =
    StoreSwap.readablePath(spark, dir).map { root =>
      live(spark.read.parquet(root), keys).drop("_seq", "_deleted", "bucket")
    }

  /** Point lookup — the serving random-read: resolve `keyVals` (one
    * Seq per composite key tuple, values in `keys` order) reading ONLY
    * those keys' bucket directories ([[BucketStore.lookup]]: driver-side
    * bucket ids, cast to the store's key types). Results ≡
    * `read(...).filter(keys in keyVals)` (UpsertStoreSpec pins both the
    * equivalence and the partition count).
    *
    * The bucket count comes from the store's OWN sidecar (written by
    * fold), never trusted from a parameter. `nBuckets` remains only as an
    * explicit override for pre-sidecar stores (0 = read the sidecar, the
    * default).
    */
  def lookup(spark: SparkSession, dir: String, keys: Seq[String],
      keyVals: Seq[Seq[Any]], nBuckets: Int = 0): Option[DataFrame] =
    StoreSwap.readablePath(spark, dir).map { root =>
      live(BucketStore.lookup(spark, root, keys, keyVals, nBuckets), keys)
        .drop("_seq", "_deleted", "bucket")
    }

  /** Live parquet part-file count of the fullest bucket (driver metadata
    * only, no Spark job). 0 for a store that was never written.
    */
  def maxFilesPerBucket(spark: SparkSession, dir: String): Int =
    BucketStore.maxFilesPerBucket(spark, dir)

  /** The compaction trigger: true once any bucket has accumulated more
    * than `maxFiles` part files (each fold appends its own). Cheap
    * enough to call every batch; see the single-writer contract for
    * WHO gets to act on it.
    */
  def needsCompact(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    BucketStore.needsCompact(spark, dir, maxFiles)

  /** Run [[compact]] iff [[needsCompact]]; returns whether it ran. The
    * maintenance policy entry point for a fold loop: call between
    * batches (never concurrently with one).
    */
  def maintain(spark: SparkSession, dir: String, keys: Seq[String],
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    BucketStore.maintain(spark, dir, maxFiles)(compact(spark, dir, keys))

  /** Rewrite the store down to its live rows (latest version per key,
    * tombstoned keys dropped entirely — safe because their shadowed
    * versions are dropped in the same pass) through
    * [[BucketStore.replace]], ~1 file per bucket. `_seq` and `_deleted`
    * are kept so later folds keep winning and the on-disk schema stays
    * uniform. A store whose rows are ALL tombstones keeps its files (an
    * empty parquet dir would fail schema inference); its reads are empty
    * either way. Run in maintenance windows, not under live writers.
    */
  def compact(spark: SparkSession, dir: String, keys: Seq[String]): Unit = {
    BucketStore.recover(spark, dir)
    val rows = live(spark.read.parquet(dir), keys)
    if (!rows.isEmpty) BucketStore.replace(spark, dir, rows, BucketStore.modulus(spark, dir))
  }
}
