package graft.model

import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
import org.apache.spark.sql.functions._

/** The hash-bucketed serving-store protocol shared by the speed layer's
  * UpsertStore and LabelStore — the engine's form of ElephantDB's hash
  * shards, batch-written and read at random (`BatchWorkflow.java:359-364`).
  *
  * Layout under a store's `dir`:
  *   - `bucket=<b>/` — the rows whose key hashes to `b`, by
  *     [[bucketCol]]: `pmod(hash(keys), n)`;
  *   - `_graft_buckets` — the modulus `n` (the sidecar; the underscore
  *     keeps it out of parquet's file index). A store self-describes its
  *     modulus so a point read never TRUSTS a caller's count — a wrong one
  *     hashes keys into buckets the partition filter then excludes, and an
  *     existing key silently resolves to nothing. Counting `bucket=` dirs
  *     is no substitute: never-written buckets have no dir. The first
  *     write pins it and writers enforce it ([[pinModulus]]); only a
  *     whole-dir [[replace]] (a deliberate reshard) records a new one;
  *   - the siblings `dir.tmp` (staging) and `dir.old` (the version or the
  *     buckets a swap moved aside), and `dir.tmp/_displaced` (the
  *     per-bucket swap's manifest).
  *
  * == Crash story ==
  *
  *   - An APPEND ([[append]]) never deletes or renames anything: a crash
  *     leaves at most a prefix of the batch's files visible over every
  *     prior version, and the store's resolve makes a replay idempotent.
  *   - A WHOLE-DIR REPLACE ([[replace]]: compaction, reshard, bootstrap)
  *     stages the new version at `dir.tmp` — one file per bucket, checked
  *     complete through [[StoreSwap]]'s rule (so sessions without
  *     `_SUCCESS` markers work too), with the sidecar inside so it rides
  *     the swap — and then runs [[StoreSwap.commit]]. A complete version
  *     exists under `dir` or `dir.old` at every crash point, never the
  *     empty-bucket window of a dynamic partition overwrite (whose job
  *     commit deletes a bucket's files before renaming replacements in).
  *     A bootstrap's commit is one rename: a crashed bootstrap leaves only
  *     staging, never a torn store a later fold would take as complete.
  *   - A PER-BUCKET SWAP ([[swapBuckets]]) stages the changed buckets at
  *     `dir.tmp`, records them in the `_displaced` manifest inside it,
  *     then per bucket renames the live one aside to `dir.old/bucket=b`
  *     and the staged one in; `.old` is deleted strictly before `.tmp`.
  *     Every bucket is at its old or new version at every crash point.
  *   - [[recover]] runs before every write. A `.old` with the live dir
  *     ABSENT is a whole-dir swap cut between its renames: it is rolled
  *     back. A `.old` beside a live dir gives back exactly the buckets the
  *     manifest lists and the live dir lacks (the one window a bucket is
  *     absent); without a manifest it is a completed whole-dir swap's
  *     superseded version and is dropped whole (restoring by presence
  *     would resurrect old-modulus rows beside a reshard's legitimately
  *     empty bucket). A staged `dir.tmp` is DISCARDED, never rolled
  *     forward: only [[replace]] promotes staging, right after writing
  *     it, so staging found here may predate later writes, and the
  *     streaming engine replays the batch whose swap was cut.
  *   - Readers resolve the current version with
  *     [[StoreSwap.readablePath]] (`dir`, or the `.old` a cut whole-dir
  *     swap preserved). A store with per-bucket swaps runs [[recover]]
  *     before reading instead.
  *
  * SINGLE-WRITER contract: one maintainer owns appends, swaps, replaces
  * and recovery for a store; maintenance runs between batches, never
  * under one (a fold landing between a compaction's read and its swap
  * would be swapped away). LabelStoreSpec, UpsertStoreSpec and
  * BucketStoreCrashSpec cut both stores at these points.
  */
object BucketStore {

  private def fs(spark: SparkSession) =
    FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def sidecar(root: String) = new Path(root, "_graft_buckets")

  private def manifest(dir: String) = new Path(StoreSwap.tmpPath(dir), "_displaced")

  /** The bucket of a row: `pmod(hash(keys), n)`. */
  def bucketCol(keys: Seq[String], n: Int): Column =
    pmod(hash(keys.map(col): _*), lit(n))

  /** The recorded modulus; None if the sidecar is absent OR unreadable
    * (empty, truncated, non-numeric — healed by the next
    * [[recordModulus]]).
    */
  def modulus(spark: SparkSession, root: String): Option[Int] = {
    val f = fs(spark)
    if (!f.exists(sidecar(root))) None
    else {
      val in = f.open(sidecar(root))
      val s =
        try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8").trim
        finally in.close()
      s.toIntOption.filter(_ > 0)
    }
  }

  /** Record `n` unless a readable sidecar exists (the first write pins
    * the modulus). Written to a temp sibling and renamed over the final
    * path, so no crash point leaves a half-written sidecar and an
    * unreadable one is replaced without an absent window.
    */
  def recordModulus(spark: SparkSession, root: String, n: Int): Unit = {
    require(n > 0, s"bucket count must be positive, got $n")
    if (modulus(spark, root).isEmpty) {
      val tmp = new Path(root, "_graft_buckets.tmp")
      val out = fs(spark).create(tmp, true)
      try out.write(n.toString.getBytes("UTF-8")) finally out.close()
      FileContext.getFileContext(spark.sparkContext.hadoopConfiguration)
        .rename(tmp, sidecar(root), Options.Rename.OVERWRITE)
    }
  }

  /** A writer's modulus check: writing under a different count than the
    * store was built with would scatter a key's rows across incompatible
    * partitionings.
    */
  def pinModulus(spark: SparkSession, dir: String, n: Int): Unit =
    modulus(spark, dir).foreach { m =>
      require(m == n, s"store at $dir was built with nBuckets=$m; fold got $n")
    }

  /** Repair any cut swap (see the crash story). Idempotent; driver-side
    * metadata operations only.
    */
  def recover(spark: SparkSession, dir: String): Unit = {
    val f = fs(spark)
    val (live, old) = (new Path(dir), new Path(StoreSwap.oldPath(dir)))
    if (f.exists(old)) {
      if (!f.exists(live)) require(f.rename(old, live), s"rollback rename $old -> $live failed")
      else {
        val displaced =
          if (!f.exists(manifest(dir))) Set.empty[String]
          else {
            val in = f.open(manifest(dir))
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
              .filter(_.nonEmpty).map(b => s"bucket=$b").toSet
            finally in.close()
          }
        f.listStatus(old).map(_.getPath)
          .filter(p => displaced(p.getName) && !f.exists(new Path(dir, p.getName)))
          .foreach(p => require(f.rename(p, new Path(dir, p.getName)), s"rollback rename $p failed"))
        f.delete(old, true)
      }
    }
    f.delete(new Path(StoreSwap.tmpPath(dir)), true)
  }

  /** Write `rows` (carrying `bucket`) under `path`, one file per touched
    * bucket rather than one per shuffle partition per bucket.
    */
  private def write(rows: DataFrame, path: String, mode: SaveMode): Unit =
    rows.repartition(col("bucket")).write.mode(mode).partitionBy("bucket").parquet(path)

  /** Stage `rows` at `dir.tmp` and fail unless the write is complete. */
  private def stage(spark: SparkSession, dir: String, rows: DataFrame): Path = {
    val tmp = StoreSwap.tmpPath(dir)
    write(rows, tmp, SaveMode.ErrorIfExists)
    require(StoreSwap.isComplete(fs(spark), new Path(tmp)), s"torn staging write at $tmp")
    new Path(tmp)
  }

  /** Append `rows` into their keys' buckets and record the modulus. */
  def append(spark: SparkSession, dir: String, rows: DataFrame,
      keys: Seq[String], n: Int): Unit = {
    write(rows.withColumn("bucket", bucketCol(keys, n)), dir, SaveMode.Append)
    recordModulus(spark, dir, n)
  }

  /** Replace the whole store with `rows` (carrying `bucket`), recording
    * modulus `n` (if known) in the staged version. The caller has run
    * [[recover]].
    */
  def replace(spark: SparkSession, dir: String, rows: DataFrame, n: Option[Int]): Unit = {
    val tmp = stage(spark, dir, rows)
    n.foreach(recordModulus(spark, tmp.toString, _))
    StoreSwap.commit(spark, dir)
  }

  /** Replace the listed buckets with `rows` (carrying `bucket`, only
    * those buckets), leaving every other bucket's files untouched. The
    * caller has run [[recover]].
    */
  def swapBuckets(spark: SparkSession, dir: String, rows: DataFrame, buckets: Seq[Int]): Unit = {
    val f = fs(spark)
    val tmp = stage(spark, dir, rows)
    val out = f.create(manifest(dir), true)
    try out.write(buckets.mkString("\n").getBytes("UTF-8")) finally out.close()
    val old = new Path(StoreSwap.oldPath(dir))
    f.mkdirs(old)
    buckets.map(b => s"bucket=$b").foreach { b =>
      if (f.exists(new Path(tmp, b))) {
        if (f.exists(new Path(dir, b)))
          require(f.rename(new Path(dir, b), new Path(old, b)), s"swap rename $dir/$b aside failed")
        require(f.rename(new Path(tmp, b), new Path(dir, b)), s"swap rename $tmp/$b in failed")
      }
    }
    f.delete(old, true)
    f.delete(tmp, true)
  }

  /** The rows of the store at `root` in the buckets of `keyVals` (one
    * Seq per key tuple, values in `keys` order) that match one of them.
    * The bucket ids are computed DRIVER-SIDE by evaluating the writers'
    * [[bucketCol]] over literals (no Spark job) and pushed as a static
    * `bucket IN (...)` partition filter, so the scan reads at most
    * |keyVals| bucket dirs. Literals are cast to the store's key types
    * first — `hash` is type-sensitive (hash(5) != hash(5L)) — under the
    * SESSION timezone, so a timestamp key hashes as it did when written.
    * The modulus is the sidecar's; `nBuckets > 0` overrides it for a
    * store without one.
    */
  def lookup(spark: SparkSession, root: String, keys: Seq[String],
      keyVals: Seq[Seq[Any]], nBuckets: Int): DataFrame = {
    require(keyVals.nonEmpty, "lookup needs at least one key tuple")
    require(keyVals.forall(_.length == keys.length),
      s"every key tuple must have ${keys.length} values (keys=$keys)")
    val n = if (nBuckets > 0) nBuckets else modulus(spark, root).getOrElse(sys.error(
      s"store at $root has no readable bucket-count sidecar (a pre-sidecar " +
        "store, or a torn sidecar write); pass nBuckets explicitly"))
    val store = spark.read.parquet(root)
    val types = keys.map(k => store.schema(k).dataType)
    val tz = Some(spark.sessionState.conf.sessionLocalTimeZone)
    val ids = keyVals.map { vs =>
      val lits = vs.zip(types).map { case (v, dt) => Literal(Cast(Literal(v), dt, tz).eval(null), dt) }
      Pmod(new Murmur3Hash(lits), Literal(n)).eval(null).asInstanceOf[Int]
    }.distinct
    val matches = keyVals.map(vs => keys.zip(vs).map { case (k, v) => col(k) === lit(v) }.reduce(_ && _))
    store.where(col("bucket").isin(ids: _*) && matches.reduce(_ || _))
  }

  /** Part-file count of the fullest bucket of the readable root (one
    * listing per bucket, no Spark job); 0 for a never-written store.
    */
  def maxFilesPerBucket(spark: SparkSession, dir: String): Int = {
    val f = fs(spark)
    StoreSwap.readablePath(spark, dir).map { root =>
      f.listStatus(new Path(root))
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("bucket="))
        .map(b => f.listStatus(b.getPath)
          .count(st => st.isFile && !st.getPath.getName.startsWith("_")))
        .maxOption.getOrElse(0)
    }.getOrElse(0)
  }

  /** The compaction trigger: true once a bucket holds more than
    * `maxFiles` part files.
    */
  def needsCompact(spark: SparkSession, dir: String, maxFiles: Int): Boolean =
    maxFilesPerBucket(spark, dir) > maxFiles

  /** Run `compact` iff [[needsCompact]]; returns whether it ran. */
  def maintain(spark: SparkSession, dir: String, maxFiles: Int)(compact: => Unit): Boolean = {
    val due = needsCompact(spark, dir, maxFiles)
    if (due) compact
    due
  }
}
