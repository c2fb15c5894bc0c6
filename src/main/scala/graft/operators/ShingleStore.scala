package graft.operators

import graft.functions.TextFunctions.shingleHashes
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent per-document shingle-hash signatures — the dedup-state
  * sibling of [[LexIndex]]/[[VectorIndex]], closing the one
  * recompute-per-run left in the incremental near-dedup family:
  * `routedIncrementalPairs`' own scaladoc notes "at scale a production
  * fold would persist [signatures] alongside the corpus" — the
  * incremental apply/keep-best queries re-tokenize and re-shingle the
  * EXISTING corpus every nightly run to rebuild a relation that never
  * changes. At 100 TB that is a full corpus text scan per night spent
  * recomputing known values; with the store, the nightly job reads the
  * precomputed (doc_id, hs) relation (a column-pruned parquet scan of
  * long arrays — no text, no tokenizer) and shingles ONLY the new
  * batch, which then lands in the store for the next night.
  *
  * A [[graft.model.SeqStore]] without a partition column (pair
  * generation consumes the whole relation, so there is no query key to
  * partition by); its scaladoc holds the crash story:
  *   - `sigs/seq=<n>/` — (doc_id, hs: array<long>, sidecar…): batch n's
  *     signatures;
  *   - `stats/` — the ledger row (n_docs, shingle_n, min_seq, max_seq,
  *     last_batch, sidecar_cols, sigs_schema). `sigs_schema` makes an
  *     EMPTY store readable: with zero part files parquet cannot infer
  *     the relation's shape, so reads serve the recorded schema instead
  *     of an AnalysisException until data lands.
  *
  * Signatures are computed by the SAME expression the recompute forms
  * use (`shingleHashes(text, n)`, null-signature docs dropped at
  * build), so a store-served pair stage is row-identical to the
  * recompute — `near_dedup_apply_store` shares
  * near_dedup_apply_incremental's oracle verbatim to prove it.
  * The store records its shingle width in stats; reads are
  * self-describing (no caller-supplied n to get wrong).
  *
  * Deliberately NOT persisted: minhash band signatures (r17 verdict
  * item 2 asked to measure first). Measured at sf0.1 (1.27M docs,
  * local[32], warm cache): re-deriving the 64-hash minhash array from
  * the stored `hs` via the native codegen expression costs 0.28 s
  * against 0.23 s to scan `hs` alone — the compute is ~0.05 s, ~2% of
  * the banded pair stage — while reading a persisted `sig` column
  * measures 0.15 s. Persisting would spend +64 longs/doc of store
  * growth and extra write volume on EVERY append to save ~0.1 s per
  * nightly run; the hash work is embarrassingly parallel, so the
  * ratio holds at 100 TB. The expensive thing was never banding — it
  * was re-reading TEXT, which the store already eliminates.
  */
object ShingleStore {

  private[graft] val store = graft.model.SeqStore("shingle store", "stats", "sigs",
    emptySchema = stats =>
      if (!stats.schema.fieldNames.contains("sigs_schema")) None
      else Some(org.apache.spark.sql.types.DataType.fromJson(stats.getAs[String]("sigs_schema"))
        .asInstanceOf[org.apache.spark.sql.types.StructType]))

  /** The stored relation: EVERY doc (null-signature docs — fewer tokens
    * than the shingle width — are kept as null-`hs` rows so sidecar
    * consumers see the whole corpus; [[hashes]] filters them for the
    * pair stages) plus any caller sidecar columns, computed ROW-LOCALLY
    * from the same docs pass that shingles — the keep-best consumer
    * persists its quality signal here so the nightly argmax reads no
    * text either.
    */
  private def signatures(docs: DataFrame, n: Int,
      sidecar: Seq[(String, org.apache.spark.sql.Column)]): DataFrame =
    docs.select(col("doc_id") +: shingleHashes(col("text"), n).as("hs") +:
      sidecar.map { case (name, c) => c.as(name) }: _*)

  /** Build the store from `docs` into a dir that has never COMMITTED a
    * build (rebuilding over a built store is refused, see
    * [[graft.model.SeqStore]]).
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
      n: Int = 3, batchId: Long = -1L,
      sidecar: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit = {
    require(n >= 1, s"need shingle width >= 1, got $n")
    store.create(spark, dir)
    val sigs = signatures(docs, n, sidecar)
    store.writeLevel(spark, dir, sigs, 0)
    writeStats(spark, dir, sigs, countLevel(spark, dir, 0, sigs), n,
      minSeq = 0, maxSeq = 0, batchId, sidecar.map(_._1))
  }

  /** The batch count of level `seq`, read back from the footers of the
    * level just written (exact, driver-side, zero jobs, SYNCHRONOUS —
    * an Observation.get would wait on the async listener bus).
    */
  private def countLevel(spark: SparkSession, dir: String, seq: Int,
      rows: DataFrame): Long =
    store.levelRows(spark, dir, seq)
      .getOrElse(rows.count()) // footer-read failure only: pay a job

  /** Commit the one-row stats table from driver-held values. `sigs_schema`
    * is derived from the level's relation (pure schema, no execution).
    */
  private def writeStats(spark: SparkSession, dir: String, sigs: DataFrame,
      nDocs: Long, shingleN: Int, minSeq: Int, maxSeq: Int, lastBatch: Long,
      sidecarCols: Seq[String]): Unit = {
    import spark.implicits._
    store.commitLedger(spark, dir,
      Seq((nDocs, shingleN, minSeq.toLong, maxSeq.toLong, lastBatch,
          sidecarCols.mkString(","), sigs.schema.json))
        .toDF("n_docs", "shingle_n", "min_seq", "max_seq", "last_batch",
          "sidecar_cols", "sigs_schema"))
  }

  /** Whether a COMMITTED build exists at `dir`. */
  def isBuilt(spark: SparkSession, dir: String): Boolean = store.isBuilt(spark, dir)

  /** Repair any torn mutation — the [[graft.model.SeqStore.recover]]
    * entry guard.
    */
  def recover(spark: SparkSession, dir: String): Unit = store.recover(spark, dir)

  /** Append `docs`' signatures — EXACT (a signature is per-doc; nothing
    * existing changes). Batch lands under the next `seq=` level,
    * invisible until the stats swap commits; replaying an
    * already-committed `batchId` is a no-op. Shingle width comes from
    * the store's own stats, never the caller.
    */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L,
      sidecar: Seq[(String, org.apache.spark.sql.Column)] = Nil): Unit =
    store.next(spark, dir, batchId).foreach { lv =>
      // the appended batch must carry exactly the store's sidecar shape —
      // a parquet schema-union would silently null-fill the mismatch and a
      // later sidecar read would serve holes as data
      val storedSidecar = sidecarCols(lv.prev)
      require(sidecar.map(_._1) == storedSidecar,
        s"sidecar mismatch on append to $dir: store carries " +
          s"[${storedSidecar.mkString(",")}], batch supplies " +
          s"[${sidecar.map(_._1).mkString(",")}]")
      val n = lv.prev.getAs[Int]("shingle_n")
      val sigs = signatures(docs, n, sidecar)
      store.writeLevel(spark, dir, sigs, lv.seq)
      writeStats(spark, dir, sigs,
        countLevel(spark, dir, lv.seq, sigs) + lv.prev.getAs[Long]("n_docs"), n,
        graft.model.SeqStore.minSeq(lv.prev).toInt, lv.seq, lv.lastBatch, storedSidecar)
    }

  /** Compaction trigger + action (the [[LexIndex.maintain]] policy on
    * the dedup-state store): a streamed fold ([[append]] per micro-
    * batch) accumulates one `seq=` directory per batch, and a reader
    * eventually pays per-level file-listing and small-file overhead for
    * state that never changes. When the live level count exceeds
    * `maxSeqDirs`, rewrite the whole committed relation into ONE fresh
    * level at `max_seq + 1` and commit `min_seq = max_seq = max_seq + 1`
    * in one stats swap — crash-safe under the append protocol. Retired
    * levels are NOT deleted here: a reader that resolved stats just
    * before the swap is still mid-scan over them, and [[read]] has no
    * vanished-file retry (it returns a lazy plan — the miss would
    * surface as a task-time FileNotFoundException long after any
    * retry wrapper here returned). They are already invisible to every
    * new reader, so they cost only disk until the NEXT maintainer entry
    * prunes `seq < min_seq` — the grace window: a read that outlives one
    * full maintenance interval is the remaining (documented) hazard, the
    * same one-interval contract ServingPointer.dropSuperseded gives
    * version dirs. No-op below the trigger. Returns true when a
    * compaction ran.
    */
  def maintain(spark: SparkSession, dir: String, maxSeqDirs: Int = 8): Boolean = {
    val prev = store.committed(spark, dir)
    val liveLevels = prev.getAs[Long]("max_seq") - graft.model.SeqStore.minSeq(prev) + 1
    if (liveLevels <= maxSeqDirs) return false
    val seq = store.nextSeq(prev, dir)
    val committed = read(spark, dir)
    store.writeLevel(spark, dir, committed, seq)
    writeStats(spark, dir, committed, prev.getAs[Long]("n_docs"),
      prev.getAs[Int]("shingle_n"), minSeq = seq, maxSeq = seq,
      prev.getAs[Long]("last_batch"), sidecarCols(prev))
    true
  }

  /** The store's recorded sidecar column names (empty for a plain
    * signature store). Tolerates pre-sidecar stats rows.
    */
  private def sidecarCols(stats: org.apache.spark.sql.Row): Seq[String] =
    if (!stats.schema.fieldNames.contains("sidecar_cols")) Nil
    else Option(stats.getAs[String]("sidecar_cols"))
      .filter(_.nonEmpty).map(_.split(",").toSeq).getOrElse(Nil)

  /** The committed (doc_id, hs) relation, gated to the live seq levels
    * (partition pruning: uncommitted appends cost nothing and are
    * invisible). This is the scan the nightly dedup reads INSTEAD of
    * re-shingling the corpus: long arrays only, no text column.
    */
  def hashes(spark: SparkSession, dir: String): DataFrame =
    read(spark, dir)
      .where(col("hs").isNotNull) // null-sig docs carry no pair evidence
      .select(col("doc_id"), col("hs"))

  /** The full committed store relation — (doc_id, hs, sidecar…), null-
    * signature docs INCLUDED (a doc too short to shingle still has its
    * sidecar values; keep-best must score it as a singleton). Same
    * commit resolution and live-level partition pruning as
    * [[hashes]]; consumers that touch only (doc_id, sidecar) columns
    * never read the hash arrays (parquet column pruning).
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val (stats, sigs) = store.read(spark, dir)
    sigs.select((col("doc_id") +: col("hs") +: sidecarCols(stats).map(col)): _*)
  }
}
