package lambdabench

import java.nio.file.Files

import graft.operators.LexIndex
import graft.streaming.UpsertStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.Sessions.base("local[2]", "2").getOrCreate()
  private def tmp() = Files.createTempDirectory("lambdabench").toString

  override def afterAll(): Unit = spark.stop()

  test("a store that lost one upserted key fails the answer check") {
    import spark.implicits._
    val dir = tmp() + "/upsert"
    val truth = Map(1L -> 10L, 2L -> 20L, 3L -> 30L)
    UpsertStore.fold(spark, dir, truth.toSeq.toDF("k", "v"), Seq("k"), seq = 1)
    def served = UpsertStore.read(spark, dir, Seq("k")).get
      .as[(Long, Long)].collect().toMap
    Checks.same("upsert state", served, truth)
    Checks.value("key 2", UpsertStore.lookup(spark, dir, Seq("k"), Seq(Seq(2L))).get
      .as[(Long, Long)].collect().map(_._2).toSeq, truth(2L))

    // drop key 2 from the store: a tombstone fold
    UpsertStore.fold(spark, dir, Seq((2L, 0L, true)).toDF("k", "v", "del"), Seq("k"),
      seq = 2, deletedCol = Some("del"))
    assertThrows[WrongAnswer](Checks.same("upsert state", served, truth))
    assertThrows[WrongAnswer](Checks.value("key 2",
      UpsertStore.lookup(spark, dir, Seq("k"), Seq(Seq(2L))).get
        .as[(Long, Long)].collect().map(_._2).toSeq, truth(2L)))
  }

  test("a search that misses the planted document fails the answer check") {
    assertThrows[WrongAnswer](Checks.ranks("bm25", Seq(4L, 5L), 3L))
    Checks.ranks("bm25", Seq(4L, 3L), 3L)
  }

  test("per-boundary jobs and tasks sum to the window's Spark totals") {
    import spark.implicits._
    val dir = tmp()
    val tracer = new Tracer(spark, enabled = true)
    spark.range(10).count() // outside the window: not counted
    tracer.start()
    for (i <- 1 to 2) tracer.operation("fold") {
      tracer.write("upsertstore.fold", s"$dir/up")(UpsertStore.fold(spark, s"$dir/up",
        Seq((i.toLong, i * 10L)).toDF("k", "v"), Seq("k"), seq = i.toLong))
      tracer.read("upsertstore.lookup")(
        UpsertStore.lookup(spark, s"$dir/up", Seq("k"), Seq(Seq(i.toLong))).get.collect())
    }
    tracer.operation("index") {
      val docs = Seq((1L, "spark merge"), (2L, "vector spark")).toDF("doc_id", "text")
      tracer.write("lexindex.build", s"$dir/lex")(LexIndex.build(spark, docs, s"$dir/lex"))
      val hits = tracer.read("lexindex.bm25topk")(
        LexIndex.bm25TopK(spark, s"$dir/lex", Seq("vector"), k = 10).collect())
      assert(hits.map(_.getAs[Long]("doc_id")).toSeq == Seq(2L))
      tracer.output("bench.check")(docs.where(col("doc_id") > 1))
    }
    tracer.stop()

    val spans = tracer.recorded
    val total = tracer.total
    assert(total.jobs > 0 && total.tasks > 0)
    assert(tracer.unattributedWork.jobs == 0 && tracer.unattributedWork.tasks == 0)
    assert(spans.map(_.work.jobs).sum == total.jobs)
    assert(spans.map(_.work.tasks).sum == total.tasks)
    assert(spans.map(_.work.stages).sum == total.stages)
    val rolled = Tracer.rollup(spans).map(b => b.name -> b).toMap
    assert(rolled("upsertstore.fold").calls == 2)
    assert(rolled("upsertstore.fold").filesWritten > 0)
    assert(rolled("upsertstore.lookup").hits == 2)
    assert(rolled("op.fold").calls == 2)
    assert(spans.forall(s => s.end >= s.start))
    // self time excludes the children: an operation's own time is small
    assert(rolled("op.fold").selfS < rolled.values.filter(_.name != "op.fold").map(_.selfS).sum)
  }
}
