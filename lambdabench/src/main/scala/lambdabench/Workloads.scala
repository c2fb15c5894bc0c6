package lambdabench

import java.io.File
import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

import graft.Engine
import graft.functions.{TextFunctions, TimeFunctions, UrlFunctions}
import graft.model.{Fact, FactKind, FactStore, ServingPointer}
import graft.operators.{GraphOps, LexIndex, NearDedup, QualityFilter, Sessionize, VectorIndex}
import graft.streaming.{LabelStore, UpsertStore}
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** One closed-loop client operation: its kind, its latency and how many
  * input items (facts, rows, documents, requests) it carried.
  */
final case class Sample(kind: String, nanos: Long, items: Long)

/** What every workload shares: the session, its input and scratch
  * directories, and the tracer that spans its calls into the engine.
  */
final class Ctx(val spark: SparkSession, val inputs: String, val work: String,
    val tracer: Tracer) {
  def read(name: String): DataFrame = spark.read.parquet(s"$inputs/$name")

  /** One generated micro-batch of a `batch`-numbered input file. */
  def batch(name: String, b: Int): DataFrame =
    read(name).where(col("batch") === b).drop("batch")

  def remove(dir: String): Unit = {
    def rm(f: File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(dir))
  }

  /** Answer checks and clean-up run in their own span, so traced runs
    * charge their jobs to the benchmark, not to an engine layer.
    */
  def check[A](body: => A): A = tracer.span("bench.check")(body)
}

/** A benchmark workload: a closed loop of one client thread. */
trait Workload {

  /** Build the stores the run's operations start from, under `dir`,
    * and bring the workload's code paths up. Timed as set-up.
    */
  def bootstrap(dir: String): Unit

  /** Whether generated inputs remain for another operation. */
  def hasNext: Boolean

  /** Run the next operation, check its answer against ground truth
    * (throwing [[WrongAnswer]] on a mismatch) and return its timing.
    */
  def step(): Sample

  /** Whether the run may end after the operation just completed. */
  def atBoundary: Boolean = true

  /** Per-layer ratios the workload computes itself (traced runs). */
  def layerExtras: Map[String, Double] = Map.empty
}

object Workload {
  val names: Seq[String] = Seq("batch_recompute", "speed_fold")

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "batch_recompute" => new BatchRecompute(ctx)
    case "speed_fold" => new SpeedFold(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (one of ${names.mkString(", ")})")
  }

  /** Run `tasks` at once, one thread each, and wait for all of them;
    * rethrows the first failure. Set-up only: the measured window is
    * one client thread.
    */
  def concurrently(tasks: Seq[() => Unit]): Unit = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    try tasks.map(t => pool.submit(new Callable[Unit] { def call(): Unit = t() }))
      .foreach(f => try f.get() catch { case e: ExecutionException => throw e.getCause })
    finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  def timed[A](body: => A): (A, Long) = {
    val t0 = System.nanoTime()
    val r = body
    (r, System.nanoTime() - t0)
  }
}

/** Batch layer: each round recomputes every serving artifact from
  * generated master data and flips them into service together.
  *
  *  - Analytics: a batch of pageview and equiv facts is ingested into a
  *    fresh master dataset, URL-normalized, deduplicated, persons are
  *    labelled by connected components, and the pageview/uniques and
  *    bounce views are aggregated.
  *  - Corpus: the generated documents are quality-scored, MinHash
  *    near-duplicates are found and dropped, and the survivors are
  *    indexed (BM25 postings and IVF-PQ codes).
  *
  * Views and indexes are staged as one new serving version and the
  * pointer flips to it. Rounds cycle through the generated fact batches
  * (the corpus is the same every round); each starts from an empty
  * master, so every round does the same work.
  */
final class BatchRecompute(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}

  val Threshold = 0.7

  private val rounds = new File(ctx.inputs).listFiles()
    .filter(_.getName.startsWith("round_")).map(_.getPath).sorted.toSeq

  private final case class Truth(facts: Long, components: Long,
      pageviews: Map[(String, Long), (Long, Long)], bounce: Map[String, (Long, Long)])

  private val truth = rounds.map { d =>
    val meta = Tsv.rows(s"$d/truth_meta.tsv").head
    Truth(meta(0).toLong, meta(1).toLong,
      Tsv.rows(s"$d/truth_pageviews.tsv").map(r =>
        (r(0), r(1).toLong) -> (r(2).toLong, r(3).toLong)).toMap,
      Tsv.rows(s"$d/truth_bounce.tsv").map(r => r(0) -> (r(1).toLong, r(2).toLong)).toMap)
  }
  private val survivorsTruth = Tsv.rows(s"${ctx.inputs}/truth_survivors.tsv")
    .map(_(0).toLong -> true).toMap
  private val nDocs = Tsv.rows(s"${ctx.inputs}/corpus_meta.tsv").head(0).toLong
  private var model: QualityFilter.QualityModel = _

  private var root = ""
  private var n = 0
  private var candidates, verified = 0L

  private val factSchema = Encoders.product[Fact].schema
  private def nullOf(field: String) = lit(null).cast(factSchema(field).dataType).as(field)

  /** The generated (user, cookie | other user) edges as equiv facts. */
  private def equivFacts(dir: String): DataFrame =
    spark.read.parquet(s"$dir/equiv.parquet").select(
      lit(FactKind.Equiv).as("kind"),
      struct(lit(0L).as("trueAsOfSecs"), lit("gen").as("source")).as("pedigree"),
      nullOf("personProperty"), nullOf("pageProperty"),
      struct(
        struct(lit(null).cast("string").as("cookie"), col("user_id").as("userId")).as("id1"),
        struct(col("cookie").as("cookie"), col("other_user").as("userId")).as("id2")
      ).as("equiv"),
      nullOf("pageView"))

  /** One round: analytics and corpus recompute, stage, flip. Returns the
    * corpus's verified near-duplicate pairs, its survivors and (traced
    * runs only) its candidate pair count.
    */
  private def recompute(dir: String, master: String,
      serving: String = root): (DataFrame, DataFrame, Long) = {
    import spark.implicits._
    val facts = FactStore.eventsAsFacts(spark, dir).toDF().unionByName(equivFacts(dir))
    tracer.write("factstore.ingest", master)(FactStore.ingest(facts.as[Fact], master))
    val normalized = tracer.output("factstore.scankind") {
      FactStore.scanKind(spark, master, FactKind.PageView)
        .withColumn("pageView", col("pageView").withField("page",
          struct(UrlFunctions.normalizeUrl(col("pageView.page.url")).as("url"))))
    }
    val deduped = tracer.output("factstore.deduplicate")(
      FactStore.deduplicate(normalized.as[Fact]).toDF())
    val cc = tracer.output("graphops.cc") {
      GraphOps.connectedComponents(FactStore.scanKind(spark, master, FactKind.Equiv)
        .select(GraphOps.personKey(col("equiv.id1")).as("src"),
          GraphOps.personKey(col("equiv.id2")).as("dst")))
    }
    val pv = deduped
      .select(GraphOps.personKey(col("pageView.person")).as("node"),
        col("pageView.page.url").as("url"),
        col("pedigree.trueAsOfSecs").as("ts_secs"), col("pageView.nonce").as("nonce"))
      .join(cc, Seq("node"), "left_outer")
      .select(coalesce(col("label"), col("node")).as("person"),
        col("url"), col("ts_secs"), col("nonce"))
    val pageviews = tracer.output("batchviews.pageviews") {
      pv.groupBy(col("url"), TimeFunctions.hourBucket(col("ts_secs")).as("hbv"))
        .agg(count(lit(1)).as("pageviews"), countDistinct(col("person")).as("uniques"))
    }
    val bounce = tracer.output("batchviews.bounce") {
      Sessionize.sessions(pv.withColumn("domain", UrlFunctions.extractDomain(col("url"))),
          Seq("domain", "person"), col("ts_secs"), col("nonce"))
        .groupBy("domain")
        .agg(count(lit(1)).as("visits"),
          sum(when(col("n_pageviews") === 1, 1L).otherwise(0L)).as("bounces"))
    }

    val kept = tracer.output("quality.score")(
        QualityFilter.scoreQualityNative(ctx.read("documents.parquet"), model))
      .where(col("quality_pred") === 1).select("doc_id", "text")
    val roundCandidates = if (tracer.enabled) countCandidates(kept) else 0L
    val pairs = tracer.span("neardedup.minhashneardups")(
      NearDedup.minhashNearDups(kept, Threshold))
    // materialized: both index builds read the survivors
    val survivors = tracer.span("engine.dropneardups")(
      Engine.dropNearDuplicates(kept, pairs).localCheckpoint())
    val survivorVecs = ctx.read("embeddings.parquet")
      .join(survivors.select(col("doc_id").as("vec_id")), "vec_id")

    val version = tracer.write("servingpointer.stage", serving) {
      ServingPointer.stage(spark, serving) { v =>
        pageviews.write.parquet(s"$v/pageviews")
        bounce.write.parquet(s"$v/bounce")
        cc.write.parquet(s"$v/components")
        tracer.write("lexindex.build", s"$v/lex")(LexIndex.build(spark, survivors, s"$v/lex"))
        tracer.write("vectorindex.build", s"$v/vec")(VectorIndex.buildIvfPq(spark,
          survivorVecs, s"$v/vec", nCells = 16, m = 16, ks = 16))
      }
    }
    tracer.write("servingpointer.flip", serving)(ServingPointer.flip(spark, serving, version))
    (pairs, survivors, roundCandidates)
  }

  /** The banded candidate pairs the verify step sees, for
    * `neardedup.verify_yield` (traced runs only: it is extra work).
    */
  private def countCandidates(kept: DataFrame): Long = {
    val sigs = kept
      .select(col("doc_id"), NearDedup.minhashSignatureArray(
        TextFunctions.shingleHashes(col("text"), 3)).as("sig"))
      .where(col("sig").isNotNull)
      .select(col("doc_id") +: (0 until NearDedup.NumHashes).map(i =>
        col("sig")(i).as(s"mh$i")): _*)
    tracer.span("neardedup.minhashcandidates")(
      NearDedup.minhashCandidates(sigs, 10000).count())
  }

  override def layerExtras: Map[String, Double] =
    Map("neardedup.verify_yield" -> (if (candidates == 0) 0.0 else verified.toDouble / candidates))

  /** Loads the corpus pipeline's quality model and serves a first
    * version from the first round. A second round on the other fact
    * batch runs beside it, into a root of its own that is then dropped:
    * the two bring every code path of a round up in about the time of
    * one, and a round right after a single cold one still runs a tenth
    * slower than the next.
    */
  def bootstrap(dir: String): Unit = {
    root = s"$dir/serving"
    val w = ctx.read("quality_model.parquet").orderBy("bucket").collect()
    model = QualityFilter.QualityModel(w.map(_.getAs[Double]("weight")),
      Tsv.rows(s"${ctx.inputs}/quality_intercept.tsv").head(0).toDouble, w.length)
    Workload.concurrently(Seq(
      () => recompute(rounds(0), s"$dir/master"),
      () => recompute(rounds(1 % rounds.size), s"$dir/master_warm", s"$dir/serving_warm")))
    ctx.remove(s"$dir/master_warm")
    ctx.remove(s"$dir/serving_warm")
    n += 1
  }

  def hasNext: Boolean = true

  def step(): Sample = {
    val r = n % rounds.size
    val master = s"${ctx.work}/master_$n"
    n += 1
    val ((pairs, survivors, roundCandidates), nanos) =
      Workload.timed(recompute(rounds(r), master))
    ctx.check {
      val t = truth(r)
      val v = ServingPointer.resolve(spark, root).get
      Checks.same("pageviews view",
        spark.read.parquet(s"$v/pageviews").collect().map(x =>
          (x.getAs[String]("url"), x.getAs[Long]("hbv")) ->
            (x.getAs[Long]("pageviews"), x.getAs[Long]("uniques"))).toMap,
        t.pageviews)
      Checks.same("bounce view",
        spark.read.parquet(s"$v/bounce").collect().map(x =>
          x.getAs[String]("domain") -> (x.getAs[Long]("visits"), x.getAs[Long]("bounces"))).toMap,
        t.bounce)
      Checks.value("component count",
        Seq(spark.read.parquet(s"$v/components").select("label").distinct().count()),
        t.components)
      Checks.same("near-duplicate survivors",
        survivors.select("doc_id").collect().map(_.getLong(0) -> true).toMap, survivorsTruth)
      if (tracer.enabled) {
        candidates += roundCandidates
        verified += pairs.count()
      }
      ctx.remove(master)
      ServingPointer.dropSuperseded(spark, root)
    }
    Sample("round", nanos, truth(r).facts + nDocs)
  }
}

/** Speed layer: folds fixed-size generated micro-batches round-robin
  * into the upsert store, label store, lexical index and vector index
  * (each bootstrapped from generated base inputs), each fold followed by
  * the store's maintenance and a read of a key from the batch through
  * the store's serving path. One operation is fold + maintain + that
  * read: the time until a folded row is visible. A run measures whole
  * cycles over the four stores, starting with the second (the first
  * runs in set-up).
  */
final class SpeedFold(ctx: Ctx) extends Workload {
  import ctx.{spark, tracer}
  import spark.implicits._

  val Keys = Seq("k")
  val Stores = 4

  /** One generated fold: its store, batch, a key of the batch, the read
    * answer expected for that key, the batch's row count and the read's
    * query (a unique token or a vector).
    */
  private final case class Op(store: String, batch: Int, probe: Long, expected: Long,
      rows: Long, query: String)

  private val ops = Tsv.rows(s"${ctx.inputs}/ops.tsv").map(r =>
    Op(r(0).stripPrefix("fold_"), r(1).toInt, r(2).toLong, r(3).toLong, r(4).toLong, r(5)))
  private var next = 0

  private var up, lb, lex, vec = ""
  private var vecApplied = -1

  /** Builds the four stores from the base inputs, two at a time in two
    * threads, and folds each store's first micro-batch (with its
    * maintenance and read) right after its build: the measured window
    * starts with the second cycle, on stores whose code paths are up.
    * Two threads, with their Spark tasks, leave room on a 4-core host
    * for the JIT and GC threads; four threads took no less time.
    */
  def bootstrap(dir: String): Unit = {
    up = s"$dir/upsert"; lb = s"$dir/labels"; lex = s"$dir/lex"; vec = s"$dir/vec"
    val builds = Map[String, () => Unit](
      "upsert" -> (() => tracer.write("upsertstore.fold", up)(
        UpsertStore.fold(spark, up, ctx.read("upsert_base.parquet"), Keys, seq = 0))),
      "label" -> (() => tracer.write("labelstore.fold", lb)(
        LabelStore.fold(spark, lb, ctx.read("label_base.parquet")))),
      "lex" -> (() => tracer.write("lexindex.build", lex)(
        LexIndex.build(spark, ctx.read("lex_base.parquet"), lex, batchId = 0))),
      "vec" -> (() => tracer.write("vectorindex.build", vec)(
        VectorIndex.buildIvfPq(spark, ctx.read("vec_base.parquet"), vec,
          nCells = 16, m = 16, ks = 16, batchId = 0))))
    val firstCycle = ops.take(Stores)
    require(firstCycle.map(_.store).sorted == builds.keys.toSeq.sorted,
      "the first cycle of ops.tsv must fold once into every store")
    Workload.concurrently(firstCycle.grouped(2).toSeq.map { pair => () =>
      pair.foreach { op =>
        builds(op.store)()
        fold(op)
        read(op)
      }
    })
    next = Stores
  }

  def hasNext: Boolean = next < ops.size

  /** A run ends on whole cycles over the four stores, so each store
    * contributes equally to the latency distribution.
    */
  override def atBoundary: Boolean = next % Stores == 0

  def step(): Sample = {
    val op = ops(next)
    next += 1
    val (_, nanos) = Workload.timed {
      fold(op)
      read(op)
    }
    Sample("fold", nanos, op.rows)
  }

  /** Fold the op's micro-batch, then run the store's maintenance policy. */
  private def fold(op: Op): Unit = op.store match {
    case "upsert" =>
      tracer.write("upsertstore.fold", up)(UpsertStore.fold(spark, up,
        ctx.batch("upsert_batches.parquet", op.batch), Keys, seq = op.batch + 1L))
      tracer.maintain("upsertstore.maintain")(UpsertStore.maintain(spark, up, Keys))
    case "label" =>
      tracer.write("labelstore.fold", lb)(
        LabelStore.fold(spark, lb, ctx.batch("label_batches.parquet", op.batch)))
      tracer.maintain("labelstore.maintain")(LabelStore.maintain(spark, lb))
    case "lex" =>
      tracer.write("lexindex.append", lex)(LexIndex.append(spark,
        ctx.batch("lex_batches.parquet", op.batch), lex, batchId = op.batch + 1L))
      tracer.maintain("lexindex.maintain")(LexIndex.maintain(spark, lex))
    case "vec" =>
      tracer.write("vectorindex.append", vec)(VectorIndex.appendIvfPq(spark,
        ctx.batch("vec_batches.parquet", op.batch), vec, batchId = op.batch + 1L))
      vecApplied = op.batch
      tracer.maintain("vectorindex.maintain")(VectorIndex.maintain(spark, vec))
  }

  /** Read the op's key back through the store's serving path and check it. */
  private def read(op: Op): Unit = op.store match {
    case "upsert" =>
      val rows = tracer.read("upsertstore.lookup")(
        UpsertStore.lookup(spark, up, Keys, Seq(Seq(op.probe))).get.collect())
      Checks.value(s"upsert key ${op.probe}", rows.map(_.getAs[Long]("v")).toSeq, op.expected)
    case "label" =>
      val rows = tracer.read("labelstore.lookup")(
        LabelStore.lookup(spark, lb, Seq(op.probe)).get.collect())
      Checks.value(s"label of ${op.probe}", rows.map(_.getAs[Long]("label")).toSeq, op.expected)
    case "lex" =>
      // the query is a token only the probed document holds
      val rows = tracer.read("lexindex.bm25topk")(
        LexIndex.bm25TopK(spark, lex, Seq(op.query), k = 10).collect())
      Checks.value(s"bm25 top-1 for doc ${op.probe}",
        rows.take(1).map(_.getAs[Long]("doc_id")).toSeq, op.expected)
    case "vec" =>
      // the probe carries a fresh id: search excludes a probe's own id
      val probes = Seq((-1L - op.probe, op.query.split(",").map(_.toDouble.toFloat)))
        .toDF("vec_id", "embedding")
      val emb = ctx.read("vec_base.parquet").unionByName(
        ctx.read("vec_batches.parquet").where(col("batch") <= vecApplied).drop("batch"))
      val rows = tracer.read("vectorindex.search")(
        VectorIndex.searchIvfPq(spark, vec, emb, probes, k = 5).collect())
      Checks.ranks(s"ivfpq probe ${op.probe}", rows.map(_.getAs[Long]("neighbor_id")).toSeq,
        op.expected)
  }
}
