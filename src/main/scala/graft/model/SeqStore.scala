package graft.model

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The append-only, seq-levelled commit protocol shared by the
  * appendable serving stores (LexIndex, VectorIndex, ShingleStore) — the
  * engine's form of the reference's append-only Pail folders plus
  * Trident's txid-keyed transactional state, and the incremental index
  * maintenance of streaming similarity search (one new level per batch,
  * existing levels never rewritten by an append).
  *
  * Layout under a store's `dir`:
  *   - `<data>/[<part>=<p>/]seq=<n>/` — batch n's rows, partitioned by the
  *     store's optional query key (`bucket`, `cell`) and then by level;
  *   - `<ledger>/` — ONE row carrying the store's payload columns plus
  *     `max_seq` (highest committed level), `last_batch` (the caller's
  *     last applied batch id) and, for stores that retire levels,
  *     `min_seq` (lowest live level; absent reads as 0).
  *
  * == Crash story ==
  *
  * The ledger row is the ONE commit point for every mutation:
  *
  *   - A build writes level 0 first and the ledger LAST, so a crash
  *     mid-build leaves a store that loudly reads as not built. A torn
  *     first build (data staged, ledger never committed) is cleared and
  *     rebuilt; rebuilding over a COMMITTED ledger is refused — rewrite
  *     in place has no atomic commit point, so replacements go to a
  *     fresh dir and in-place evolution is append/compaction.
  *   - An append writes batch n under `seq = max_seq + 1`, invisible to
  *     every reader (reads gate on `min_seq <= seq <= max_seq`, which is
  *     partition pruning), then stages the new ledger row at
  *     `<ledger>.tmp` and swaps it in through the [[StoreSwap]]
  *     two-rename. A crash anywhere before that swap lands leaves
  *     readers on EXACTLY the old relation. The one seq value is
  *     computed once, as an Int, and used for the `seq` column, the
  *     `seq=<n>` path and the ledger's `max_seq`; an append that would
  *     overflow it fails before writing anything.
  *   - Every writer entry ([[recover]]) first finishes or rolls back an
  *     interrupted ledger or data swap, drops `_temporary` job staging
  *     (a crashed job's half-committed task files must never merge into
  *     a later commit), and prunes levels above `max_seq` (a crashed
  *     append's orphans) and below `min_seq` (levels a committed
  *     compaction retired). That prune is what makes a RETRY converge
  *     instead of double-counting: the re-append writes its level into
  *     an empty `seq=<n>` dir.
  *   - A caller with a durable batch sequence (a foreachBatch id) passes
  *     it as `batchId`; the ledger records the last applied id, an exact
  *     replay of it is a no-op, and an id below it fails loud
  *     ([[isReplay]]).
  *   - The files-per-partition [[consolidate]] rewrites every live level
  *     into `seq=0` through the whole-dir StoreSwap protocol, so a
  *     complete data table exists at every intermediate state.
  *
  * Readers ([[read]]) resolve the ledger through
  * [[StoreSwap.committedPath]] and the data through
  * [[StoreSwap.readablePath]] and apply the seq gate, which is correct
  * against every crash state WITHOUT taking the writer's recovery path:
  * the single-writer contract (one maintainer owns every mutation)
  * never has to cover readers. SeqStoreCrashSpec kills every store at
  * every append commit point.
  *
  * @param name        the store's name in errors ("lex index")
  * @param ledger      the ledger dir name under the store's dir
  * @param data        the data dir name under the store's dir
  * @param part        the optional partition column above `seq`
  * @param emptySchema the data schema (without `part` and `seq`) served
  *                    when the store holds no part file yet, from the
  *                    ledger row; None rethrows the schema-inference error
  * @param compactOrder the within-partition sort of [[consolidate]]
  */
final case class SeqStore(name: String, ledger: String, data: String,
    part: Option[String] = None,
    emptySchema: Row => Option[StructType] = _ => None,
    compactOrder: Seq[String] = Nil) {

  def ledgerDir(dir: String): String = s"$dir/$ledger"
  def dataDir(dir: String): String = s"$dir/$data"

  private def fs(spark: SparkSession) =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def notBuilt(dir: String): Nothing =
    sys.error(s"no readable $ledger under ${ledgerDir(dir)} — $name not built")

  /** Whether a COMMITTED build exists at `dir`. Resolves through a
    * possibly-torn ledger swap; a ledger dir holding only `_temporary`
    * staging (the first build crashed in its ledger job) reads as not
    * built, so a bootstrapping fold rebuilds instead of crash-looping.
    */
  def isBuilt(spark: SparkSession, dir: String): Boolean =
    StoreSwap.committedPath(spark, ledgerDir(dir)).isDefined

  /** The committed (max_seq, last_batch) pair, None if never built —
    * the read-only probe a catch-up replay checks its batch high-water
    * mark through.
    */
  def committedWatermarks(spark: SparkSession, dir: String): Option[(Long, Long)] =
    StoreSwap.committedPath(spark, ledgerDir(dir)).map { p =>
      val r = OneRowParquet.head(spark, p)
      (r.getAs[Long]("max_seq"), r.getAs[Long]("last_batch"))
    }

  /** The writer's entry guard (driver-side metadata only): finish both
    * swaps, then, on a built store, drop `_temporary` staging and every
    * `seq=` level outside [min_seq, max_seq]. Returns the post-recovery
    * ledger row, None if the store was never (completely) built.
    */
  def recover(spark: SparkSession, dir: String): Option[Row] = {
    StoreSwap.commit(spark, ledgerDir(dir))
    StoreSwap.commit(spark, dataDir(dir))
    if (!isBuilt(spark, dir)) None
    else {
      val row = OneRowParquet.head(spark, ledgerDir(dir))
      val (lo, hi) = (SeqStore.minSeq(row), row.getAs[Long]("max_seq"))
      val f = fs(spark)
      def sweep(p: Path): Unit = if (f.exists(p)) f.listStatus(p).foreach { st =>
        val n = st.getPath.getName
        if (n == "_temporary") f.delete(st.getPath, true)
        else if (st.isDirectory && part.exists(c => n.startsWith(c + "="))) sweep(st.getPath)
        else if (st.isDirectory && n.startsWith("seq=") &&
            n.stripPrefix("seq=").toLongOption.exists(s => s < lo || s > hi))
          f.delete(st.getPath, true)
      }
      sweep(new Path(dataDir(dir)))
      Some(row)
    }
  }

  /** [[recover]], failing loudly on a store that was never built. */
  def committed(spark: SparkSession, dir: String): Row =
    recover(spark, dir).getOrElse(notBuilt(dir))

  /** A build's entry: recover, refuse a COMMITTED store, and clear the
    * leftovers of a torn first build. The caller then writes level 0
    * with [[writeLevel]] and commits its ledger row with `max_seq = 0`.
    */
  def create(spark: SparkSession, dir: String): Unit = {
    if (recover(spark, dir).isDefined)
      sys.error(s"refusing to rebuild over the built $name at $dir — write " +
        "the replacement to a fresh dir, or evolve this one through its " +
        "append and compaction (both crash-safe); rebuild-in-place has no " +
        "atomic commit point")
    val f = fs(spark)
    Seq(ledgerDir(dir), dataDir(dir)).foreach(d => f.delete(new Path(d), true))
  }

  /** An append's entry: recover, then None for an exact replay of the
    * committed batch (the caller no-ops), else the level to write.
    */
  def next(spark: SparkSession, dir: String, batchId: Long): Option[SeqStore.Level] = {
    val prev = committed(spark, dir)
    val last = prev.getAs[Long]("last_batch")
    if (SeqStore.isReplay(last, batchId, s"$name $dir")) None
    else Some(SeqStore.Level(prev, nextSeq(prev, dir), math.max(last, batchId)))
  }

  /** `max_seq + 1` as the Int every use of it shares; fails before any
    * write when it would overflow (a wrapped level would be negative,
    * and the seq gate would hide every earlier level).
    */
  def nextSeq(prev: Row, dir: String): Int = {
    val s = prev.getAs[Long]("max_seq") + 1
    require(s <= Int.MaxValue, s"$name $dir: next seq level $s overflows " +
      "the Int seq column — rebuild the store into a fresh dir")
    s.toInt
  }

  /** Write `rows` as level `seq` (one file per touched partition per
    * level), invisible until a ledger row records it. A zero-row level
    * writes no part files; the data dir is then sealed so sessions
    * without `_SUCCESS` markers read it as committed, not torn.
    */
  def writeLevel(spark: SparkSession, dir: String, rows: DataFrame, seq: Int): Unit = {
    val leveled = rows.withColumn("seq", lit(seq))
    // co-locate each partition's rows first: otherwise every shuffle
    // partition opens a writer in every partition dir (partitions ×
    // buckets files per write, measured 4-8× a LexIndex build at sf0.1)
    part.fold(leveled)(c => leveled.repartition(col(c)))
      .write.mode(SaveMode.Append)
      .partitionBy(part.toSeq :+ "seq": _*)
      .parquet(dataDir(dir))
    StoreSwap.sealIfEmpty(spark, dataDir(dir))
  }

  /** Exact row count of level `seq` from its parquet footers (no job);
    * None on a footer-read failure.
    */
  def levelRows(spark: SparkSession, dir: String, seq: Int): Option[Long] = {
    val counts = partitionDirs(fs(spark), new Path(dataDir(dir)))
      .map(p => RowEst.dirRowsExact(spark, s"$p/seq=$seq"))
    if (counts.forall(_.isDefined)) Some(counts.flatten.sum) else None
  }

  /** THE commit point: stage the caller's one-row ledger DataFrame at
    * `<ledger>.tmp` and swap it in.
    */
  def commitLedger(spark: SparkSession, dir: String, row: DataFrame): Unit = {
    row.repartition(1).write.mode(SaveMode.Overwrite)
      .parquet(StoreSwap.tmpPath(ledgerDir(dir)))
    StoreSwap.commit(spark, ledgerDir(dir))
  }

  /** The committed (ledger row, data relation) for readers. */
  def read(spark: SparkSession, dir: String): (Row, DataFrame) = {
    val row = OneRowParquet.head(spark,
      StoreSwap.committedPath(spark, ledgerDir(dir)).getOrElse(notBuilt(dir)))
    val path = StoreSwap.readablePath(spark, dataDir(dir))
      .getOrElse(sys.error(s"no readable $data under ${dataDir(dir)}"))
    (row, relation(spark, row, path))
  }

  /** The data at `path` gated to the live levels of `row`. A store
    * bootstrapped from a zero-row batch has no part files, so parquet
    * cannot infer a schema; [[emptySchema]] then serves the empty
    * relation instead of an AnalysisException until data lands.
    */
  private def relation(spark: SparkSession, row: Row, path: String): DataFrame = {
    val all =
      try spark.read.parquet(path)
      catch {
        case e: AnalysisException if e.getMessage.contains("UNABLE_TO_INFER_SCHEMA") &&
            emptySchema(row).isDefined =>
          val schema = (part.toSeq :+ "seq").foldLeft(emptySchema(row).get)(_.add(_, IntegerType))
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }
    all.where(col("seq").between(lit(SeqStore.minSeq(row).toInt), lit(row.getAs[Long]("max_seq").toInt)))
  }

  /** Compact in place: every live level rewritten into `seq=0`, one file
    * per partition (sorted by [[compactOrder]]), through the whole-dir
    * StoreSwap — a complete data table exists at every intermediate
    * state and the ledger is untouched (`0 <= max_seq`). Offline
    * maintenance: run between serving windows.
    */
  def consolidate(spark: SparkSession, dir: String): Unit = {
    // recovery first: folding an orphaned level into the rewrite would
    // silently commit it
    val live = relation(spark, committed(spark, dir), dataDir(dir)).withColumn("seq", lit(0))
    val byPart = part.fold(live)(c => live.repartition(col(c)))
    (if (compactOrder.isEmpty) byPart else byPart.sortWithinPartitions(compactOrder.map(col): _*))
      .write.mode(SaveMode.Overwrite).partitionBy(part.toSeq :+ "seq": _*)
      .option("maxRecordsPerFile", 8L * 1000 * 1000)
      .parquet(StoreSwap.tmpPath(dataDir(dir)))
    StoreSwap.commit(spark, dataDir(dir))
  }

  private def partitionDirs(f: FileSystem, root: Path): Seq[Path] =
    part.fold(Seq(root)) { c =>
      if (!f.exists(root)) Nil
      else f.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith(c + "="))
        .map(_.getPath)
    }

  /** Part-file count of the fullest partition (driver metadata only —
    * listings over partition and seq dirs, never a Spark job).
    */
  def maxFilesPerPartition(spark: SparkSession, dir: String): Int = {
    val f = fs(spark)
    def files(p: Path) =
      f.listStatus(p).count(st => st.isFile && !st.getPath.getName.startsWith("_"))
    StoreSwap.readablePath(spark, dataDir(dir)).map { root =>
      partitionDirs(f, new Path(root)).map { p =>
        files(p) + f.listStatus(p)
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("seq="))
          .map(st => files(st.getPath)).sum
      }.maxOption.getOrElse(0)
    }.getOrElse(0)
  }

  /** The files-per-partition maintenance trigger: true once a partition
    * holds more than `maxFiles` part files (each append adds ~1 per
    * touched partition).
    */
  def needsCompact(spark: SparkSession, dir: String, maxFiles: Int): Boolean =
    maxFilesPerPartition(spark, dir) > maxFiles

  /** Run [[consolidate]] iff [[needsCompact]]; returns whether it ran.
    * Call between batches, never under one.
    */
  def maintain(spark: SparkSession, dir: String, maxFiles: Int): Boolean = {
    val due = needsCompact(spark, dir, maxFiles)
    if (due) consolidate(spark, dir)
    due
  }
}

object SeqStore {

  /** The level an append writes: the pre-append ledger row, the level's
    * seq, and the `last_batch` its ledger row records.
    */
  final case class Level(prev: Row, seq: Int, lastBatch: Long)

  /** The committed relation's lowest live level; absent reads as 0. */
  def minSeq(row: Row): Long =
    if (row.schema.fieldNames.contains("min_seq")) row.getAs[Long]("min_seq") else 0L

  /** The exactly-once replay guard. The contract is STRICTLY INCREASING
    * application: a streaming checkpoint replays only the batch that was
    * in flight at a crash (exactly the last committed id when the crash
    * landed after the commit), so `batchId == lastBatch` is a replay the
    * caller must no-op, a higher id is fresh, and a LOWER id is a
    * sequencing violation that throws — skipping it would silently lose
    * its rows. Gaps above the mark are allowed. Negative ids on either
    * side mean "unattributed" and never match.
    */
  def isReplay(lastBatch: Long, batchId: Long, store: String): Boolean =
    if (batchId < 0 || lastBatch < 0) false
    else if (batchId == lastBatch) true
    else if (batchId > lastBatch) false
    else throw new IllegalStateException(
      s"out-of-order append to $store: batch $batchId arrived after batch " +
        s"$lastBatch committed — batch ids must be applied in strictly " +
        "increasing order; only an exact replay of the last committed " +
        "batch is a no-op, and an older id here means its rows were " +
        "never applied (refusing to silently drop them)")
}
