package graft.operators

import graft.functions.TextFunctions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persistent inverted (posting-list) index for lexical BM25 serving —
  * the lexical sibling of [[VectorIndex]], and the "posting-list index at
  * 100 TB" scale path [[TextOps.bm25Scores]]' scaladoc promises made
  * real code (reference analogue: the batch layer precomputing what
  * query time should not — BatchWorkflow.java's precomputed views).
  *
  * A [[graft.model.SeqStore]] (its scaladoc holds the crash story):
  *   - `postings/bucket=<pmod(xxhash64(t), nBuckets)>/seq=<n>/` —
  *     (t, doc_id, tf, dl): the document length rides DENORMALIZED on
  *     every posting (the norms-in-postings trick real engines use), so
  *     query time never joins a corpus-sized doc-length table;
  *   - `stats/` — the ledger row (n_docs, sum_dl, avgdl, n_buckets,
  *     max_seq, last_batch): the corpus constants plus the store's
  *     recorded bucket modulus, so reads are self-describing (no
  *     caller-supplied nBuckets to get wrong — the UpsertStore sidecar
  *     lesson).
  *
  * A query reads ONLY its terms' bucket partitions (partition-pruned
  * scan: ≤ |qTerms| of nBuckets directories, spec-pinned), filters to
  * the exact terms inside them, and evaluates the SAME scoring
  * expression tree as the direct form — text_bm25_indexed therefore
  * shares text_bm25_topk's oracle SQL verbatim and the driver proves
  * index ≡ direct scan.
  *
  * At 100 TB the build is one map-combinable (doc, term) aggregate plus
  * one partitioned write; an append is batch-sized (one file per touched
  * bucket); a query touches query-term-sized data only — posting lists
  * for 3 terms, never the corpus. Repeated appends accumulate one
  * `seq=` directory per batch per touched bucket; [[maintain]] is the
  * files-per-bucket compaction trigger (the UpsertStore/LabelStore
  * policy) that folds them back to ~1 file per bucket.
  */
object LexIndex {

  private[graft] val store = graft.model.SeqStore("lex index", "stats", "postings",
    part = Some("bucket"), compactOrder = Seq("t", "doc_id"),
    // the index's own FIXED postings shape, safe to hardcode (unlike
    // ShingleStore's caller-shaped sidecar)
    emptySchema = _ => Some(StructType(Seq(
      StructField("doc_id", LongType), StructField("t", StringType),
      StructField("tf", LongType), StructField("dl", DoubleType)))))

  val DefaultBuckets = 64

  /** Floor/ceiling for [[autoBuckets]] (`graft.lexindex.minBuckets` /
    * `maxBuckets`), and the sizing target (`graft.lexindex.docsPerBucket`):
    * the bucket count an auto-sized build aims for is
    * ceil(rows / docsPerBucket) clamped to [min, max]. Rationale: every
    * append writes ~1 file per TOUCHED bucket and every recover/list
    * walks all of them, so the bucket count must GROW with the corpus —
    * a fixed modulus is simultaneously too many dirs for a 5 k-doc
    * corpus (64 near-empty files per mutation, measured 4-8× the build
    * wall at sf0.1) and far too few for a 10 B-doc one (each bucket's
    * posting slice would be ~1/64 of the corpus, unboundedly large).
    * Production deployments size docsPerBucket so one bucket's postings
    * land in the low hundreds of MB and raise maxBuckets to match; the
    * defaults below keep the local bench honest (derived from the
    * input's actual row metadata, never from the core count).
    */
  val DefaultDocsPerBucket = 2048L
  val DefaultMinBuckets = 4
  val DefaultMaxBuckets = 4096

  /** Scale-adaptive bucket count: ceil(rows / docsPerBucket) clamped to
    * [minBuckets, maxBuckets], with rows from parquet footer metadata
    * ([[graft.model.RowEst]] — no job); [[DefaultBuckets]] when the
    * relation carries no free row bound (the estimate must never cost a
    * pass over the corpus it is trying to size). `graft.lexindex.buckets`
    * (> 0) pins the count outright.
    */
  def autoBuckets(spark: SparkSession, docs: DataFrame): Int = {
    val pinned = spark.conf.get("graft.lexindex.buckets", "0").toInt
    if (pinned > 0) pinned
    else graft.model.RowEst.upperBound(docs) match {
      case Some(rows) =>
        val per = spark.conf.get("graft.lexindex.docsPerBucket",
          DefaultDocsPerBucket.toString).toLong
        val lo = spark.conf.get("graft.lexindex.minBuckets",
          DefaultMinBuckets.toString).toInt
        val hi = spark.conf.get("graft.lexindex.maxBuckets",
          DefaultMaxBuckets.toString).toInt
        math.min(hi.toLong, math.max(lo.toLong, (rows + per - 1) / per)).toInt
      case None => DefaultBuckets
    }
  }

  /** Part files a bucket may hold before [[needsCompact]] fires — each
    * append adds ~1 file per touched bucket, so the count drifts up with
    * batches folded since the last [[consolidate]].
    */
  val DefaultMaxFilesPerBucket = 16

  /** The query terms' bucket ids under the store's recorded modulus,
    * computed by evaluating the SAME Catalyst expressions the build's
    * bucket column uses (`Pmod(XxHash64(term), nBuckets)`) on the
    * driver — identical hashing by construction (shared expression
    * classes, never a reimplementation that could drift), and zero
    * Spark jobs: the previous `spark.range(1).select(...).head()` probe
    * paid a defaultParallelism-task job per indexed read just to hash a
    * handful of string literals.
    */
  private def termBuckets(qTerms: Seq[String], nBuckets: Long): Seq[Long] = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    qTerms.map { t =>
      Pmod(new XxHash64(Seq(Literal(t))), Literal(nBuckets))
        .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
        .asInstanceOf[Long]
    }.distinct
  }

  /** Tokenize `docs` once and run `f` over the cached (doc_id, t, tf)
    * relation plus the materialized per-doc lengths. Without the cache,
    * a build/append tokenizes the batch THREE times — once for the dl
    * branch, once for the postings join's tf side, once for the stats
    * job (measured ~2.7× on the append's wall clock at sf0.1); with it
    * the corpus is read and tokenized exactly once per mutation. The
    * cache is serialized + disk-spillable (batch-sized, must survive
    * memory pressure) and dl is checkpointed (doc-count-sized) so the
    * stats aggregate is free.
    */
  private def withPostingRows[A](docs: DataFrame)
      (f: (DataFrame, DataFrame) => A): A = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
      .where(col("t") =!= "")
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    try {
      // dl stays a plan over the cached tf (no checkpoint job): both
      // consumers — the postings join and the stats aggregate — recompute
      // it as one small aggregate over the cache, cheaper than a
      // dedicated materialization job per mutation
      val dl = tf.groupBy("doc_id").agg(sum("tf").cast("double").as("dl"))
      f(tf.join(dl, "doc_id"), dl)
    } finally tf.unpersist()
  }

  /** Build the index from `docs` (doc_id, text, …) into a dir that has
    * never COMMITTED a build. `batchId` (optional) records a durable
    * caller sequence id so a replayed bootstrap batch is skipped by the
    * next [[append]]. Rebuilding over a BUILT index is refused loudly
    * (see [[graft.model.SeqStore]]): replacement corpora go to a fresh
    * dir (every declared query and the stream fold already do —
    * [[graft.Scratch.dir]]).
    */
  def build(spark: SparkSession, docs: DataFrame, dir: String,
      nBuckets: Int = 0, batchId: Long = -1L): Unit = {
    // 0 (the default) = size the modulus from the corpus's row metadata;
    // reads resolve the recorded n_buckets from stats either way, so the
    // choice only routes file layout, never results. Negative moduli are
    // a caller BUG and must fail loudly, not silently reroute to auto
    // (r18 advice).
    require(nBuckets >= 0,
      s"nBuckets must be >= 0 (0 = auto-size from corpus metadata), got $nBuckets")
    val buckets = if (nBuckets > 0) nBuckets else autoBuckets(spark, docs)
    require(buckets >= 1, s"need nBuckets >= 1, got $buckets")
    store.create(spark, dir)
    withPostingRows(docs) { (posts, dl) =>
      store.writeLevel(spark, dir,
        posts.withColumn("bucket", pmod(xxhash64(col("t")), lit(buckets.toLong))), 0)
      // coalesce: a zero-row bootstrap's sum/avg are NULL, and a null
      // sum_dl would poison every later append's running total (the
      // empty-bootstrap fold case — RecoverySpec)
      store.commitLedger(spark, dir, dl.agg(count(lit(1)).as("n_docs"),
        coalesce(sum("dl"), lit(0.0)).as("sum_dl"),
        coalesce(avg("dl"), lit(0.0)).as("avgdl"),
        lit(buckets).as("n_buckets"),
        lit(0L).as("max_seq"), lit(batchId).as("last_batch")))
    }
  }

  /** Repair any torn mutation before the next write — the
    * [[graft.model.SeqStore.recover]] entry guard.
    */
  def recover(spark: SparkSession, dir: String): Unit = store.recover(spark, dir)

  /** Whether a COMMITTED build exists at `dir` — the bootstrap probe for
    * an append loop (`stream_lex_append`'s fold), so callers never
    * duplicate the private stats layout.
    */
  def isBuilt(spark: SparkSession, dir: String): Boolean = store.isBuilt(spark, dir)

  /** The committed (max_seq, last_batch) watermark pair; None if never
    * built.
    */
  def committedWatermarks(spark: SparkSession, dir: String): Option[(Long, Long)] =
    store.committedWatermarks(spark, dir)

  /** Append `docs` to an existing index — EXACT, unlike PQ append (no
    * codebooks to go stale): new postings land in their terms' buckets
    * under the store's RECORDED modulus, document lengths are per-doc so
    * existing postings never change, document frequency is computed at
    * query time from the postings themselves, and the corpus constants
    * merge from the running (n_docs, sum_dl) totals. build + append ≡
    * one build over the union — the declared query proves it against
    * the direct form's oracle verbatim. Crash-safe and idempotent (see
    * [[graft.model.SeqStore]]); pass the caller's durable `batchId` to
    * make a REPLAY of an already-committed batch a no-op.
    */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
      batchId: Long = -1L): Unit =
    store.next(spark, dir, batchId).foreach { lv =>
      val nBuckets = lv.prev.getAs[Int]("n_buckets")
      withPostingRows(docs) { (posts, dl) =>
        store.writeLevel(spark, dir,
          posts.withColumn("bucket", pmod(xxhash64(col("t")), lit(nBuckets.toLong))), lv.seq)
        // Option-read: an older empty-bootstrap store recorded NULL
        // totals (sum of zero rows); treat them as 0 so the running total
        // self-heals on the first real append
        val prevSum = Option(lv.prev.getAs[java.lang.Double]("sum_dl"))
          .fold(0.0)(_.doubleValue)
        store.commitLedger(spark, dir, dl.agg(
            (count(lit(1)) + lit(lv.prev.getAs[Long]("n_docs"))).as("n_docs"),
            (coalesce(sum("dl"), lit(0.0)) // empty batch: totals carry over
              + lit(prevSum)).as("sum_dl"))
          .select(col("n_docs"), col("sum_dl"),
            (col("sum_dl") / col("n_docs")).as("avgdl"),
            lit(nBuckets).as("n_buckets"),
            lit(lv.seq.toLong).as("max_seq"), lit(lv.lastBatch).as("last_batch")))
      }
    }

  /** Compact the postings in place to one file per bucket partition,
    * sorted by (t, doc_id) — [[graft.model.SeqStore.consolidate]].
    * Offline maintenance: run between serving windows.
    */
  def consolidate(spark: SparkSession, dir: String): Unit = store.consolidate(spark, dir)

  /** Part-file count of the fullest bucket (driver metadata only). */
  def maxFilesPerBucket(spark: SparkSession, dir: String): Int =
    store.maxFilesPerPartition(spark, dir)

  /** Maintenance trigger: true once any bucket has accumulated more than
    * `maxFiles` posting files (each append adds ~1 per touched bucket).
    */
  def needsCompact(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    store.needsCompact(spark, dir, maxFiles)

  /** Run [[consolidate]] iff [[needsCompact]]; returns whether it ran.
    * The maintenance entry point for an append loop (e.g. the
    * `stream_lex_append` fold): call between batches, never under one.
    */
  def maintain(spark: SparkSession, dir: String,
      maxFiles: Int = DefaultMaxFilesPerBucket): Boolean =
    store.maintain(spark, dir, maxFiles)

  /** The committed postings of `terms` (partition-pruned to their
    * buckets and the live seq levels) with the corpus constants
    * (n_docs, avgdl) they score under.
    */
  private def termPostings(spark: SparkSession, dir: String,
      terms: Seq[String]): (DataFrame, Long, Double) = {
    val (stats, postings) = store.read(spark, dir)
    // the terms' buckets via the same expression classes the build used
    // ([[termBuckets]]) — same hashing, no per-read probe job
    val buckets = termBuckets(terms, stats.getAs[Int]("n_buckets").toLong)
    (postings.where(col("bucket").isin(buckets: _*) && col("t").isin(terms: _*)),
      stats.getAs[Long]("n_docs"), stats.getAs[Double]("avgdl"))
  }

  /** One posting's BM25 contribution given its term's df. */
  private def contrib(nDocs: Long, avgdl: Double) =
    log((lit(nDocs) - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1)) *
      col("tf") * lit(2.2) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl)))

  /** BM25 (k1=1.2, b=0.75) scores of the indexed corpus against
    * `qTerms`: (doc_id, bm25 rounded to 4) — the [[TextOps.bm25Scores]]
    * contract served from the index. Reads only the query terms' bucket
    * partitions, gated to the committed seq levels (both filters are
    * partition pruning — uncommitted appends cost nothing and are
    * invisible).
    */
  def bm25Scores(spark: SparkSession, dir: String,
      qTerms: Seq[String]): DataFrame = {
    require(qTerms.nonEmpty, "need at least one query term")
    val (tfq, nDocs, avgdl) = termPostings(spark, dir, qTerms)
    val dfreq = tfq.groupBy("t").agg(count(lit(1)).as("df"))
    tfq.join(broadcast(dfreq), "t")
      .withColumn("contrib", contrib(nDocs, avgdl))
      .groupBy("doc_id").agg(round(sum("contrib"), 4).as("bm25"))
      .select(col("doc_id"), col("bm25"))
  }

  /** Indexed BM25 top-k: (rank, doc_id, bm25) — byte-identical to the
    * direct [[TextOps.bm25Scores]] → [[TextOps.bm25Rank]] path.
    */
  def bm25TopK(spark: SparkSession, dir: String, qTerms: Seq[String],
      k: Int = 10): DataFrame =
    TextOps.bm25Rank(bm25Scores(spark, dir, qTerms), k)

  /** BM25 top-k for a BATCH of queries in ONE partition-pruned scan —
    * the production serving shape (a search tier evaluates a request
    * batch, not one query at a time): the postings read covers the
    * UNION of all queries' terms' buckets once, each posting row fans
    * out to the queries sharing its term through a broadcast
    * (qid, term) join, document frequency is computed once per term
    * (query-independent), and per-query top-k reduces through the
    * map-side TopKAgg heap keyed by qid — ≤ k rows per query per task
    * reach the shuffle, never a per-query corpus pass.
    *
    * Output (qid, rank, doc_id, bm25); ranks on the ROUNDED score with
    * doc_id tie-break — each query's block is byte-identical to running
    * [[bm25TopK]] with its terms alone (LexIndexSpec pins it), so
    * batching is pure amortization: B queries cost one pruned scan of
    * ≤ Σ|terms| buckets instead of B scans.
    */
  def bm25TopKBatch(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])], k: Int = 10): DataFrame = {
    import spark.implicits._
    bm25ScoresBatch(spark, dir, queries)
      .as[(Int, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, v) => (id, v) }
      .agg(graft.functions.TopKAgg.TopK(k).toColumn.name("top"))
      .select(col("key").as("qid"), posexplode(col("top.items")).as(Seq("pos", "e")))
      .select(col("qid"), (col("pos") + 1).as("rank"), col("e.id").as("doc_id"),
        col("e.value").as("bm25"))
      .orderBy("qid", "rank")
  }

  /** The scores-level batch serving relation [[bm25TopKBatch]] ranks:
    * (qid, doc_id, bm25 rounded to 4) for every indexed doc matching any
    * of the query's terms — one partition-pruned postings scan for the
    * UNION of all queries' terms' buckets, df once per term, per-posting
    * fan-out to the queries sharing its term through a broadcast
    * (qid, t) join. The hybrid batch serving tier consumes this directly
    * (it fuses DEPTH-ranked branch lists, not top-k blocks).
    */
  def bm25ScoresBatch(spark: SparkSession, dir: String,
      queries: Seq[(Int, Seq[String])]): DataFrame = {
    import spark.implicits._
    require(queries.nonEmpty && queries.forall(_._2.nonEmpty),
      "need at least one query, each with at least one term")
    require(queries.map(_._1).distinct.size == queries.size,
      "query qids must be unique — duplicates would silently merge two " +
        "queries' term sets into one garbage score block")
    val (tfq, nDocs, avgdl) = termPostings(spark, dir, queries.flatMap(_._2).distinct)
    // df once per term — query-independent, so queries sharing a term
    // share its posting aggregate
    val dfreq = tfq.groupBy("t").agg(count(lit(1)).as("df"))
    val qdf = queries.flatMap { case (qid, ts) => ts.distinct.map(t => (qid, t)) }
      .toDF("qid", "t")
    tfq.join(broadcast(dfreq), "t")
      .join(broadcast(qdf), "t") // fan out to the queries wanting this term
      .withColumn("contrib", contrib(nDocs, avgdl))
      .groupBy("qid", "doc_id").agg(round(sum("contrib"), 4).as("bm25"))
  }
}
