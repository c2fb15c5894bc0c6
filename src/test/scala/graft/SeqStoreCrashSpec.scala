package graft

import graft.model.{SeqStore, StoreSwap}
import graft.operators.{LexIndex, ShingleStore, VectorIndex}
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The seq-level commit protocol ([[graft.model.SeqStore]]) killed at
  * each of its commit points, for every store built on it: an append of
  * batch 1 over a build of batch 0 is cut at five crash states, then
  * read and retried. At every point reads serve exactly the relation
  * before or after the batch, a retry with the same batch id converges
  * to one copy, and the served rows equal the footer rows of the live
  * levels and (where the ledger counts documents) the ledger's n_docs.
  */
class SeqStoreCrashSpec extends SparkSpec {
  import spark.implicits._

  /** A store under test: its protocol, its build of batch 0 and append of
    * batch 1 (with the given batch id), its public read answer, and the
    * count of the served relation its ledger records as n_docs.
    */
  private case class Subject(name: String, store: SeqStore,
      build: String => Unit, append: (String, Long) => Unit,
      answer: String => Seq[String], docs: Option[DataFrame => Long])

  private lazy val corpus = Tables.documents(spark, sf0001)
  private lazy val emb = Tables.embeddings(spark, sf0001)

  /** Rows as order-free strings (binary columns by content). */
  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case b: Array[Byte] => b.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private lazy val subjects = Seq(
    Subject("LexIndex", LexIndex.store,
      d => LexIndex.build(spark, corpus.where($"doc_id" % 2 === 0), d, nBuckets = 4, batchId = 0),
      (d, b) => LexIndex.append(spark, corpus.where($"doc_id" % 2 === 1), d, batchId = b),
      d => canon(LexIndex.bm25TopK(spark, d, Seq("spark", "merge", "vector"))),
      Some(_.select("doc_id").distinct().count())),
    Subject("VectorIndex", VectorIndex.store,
      d => VectorIndex.buildIvfPq(spark, emb.where($"vec_id" % 2 === 0), d,
        nCells = 16, m = 8, ks = 16, batchId = 0),
      (d, b) => VectorIndex.appendIvfPq(spark, emb.where($"vec_id" % 2 === 1), d, batchId = b),
      d => canon(VectorIndex.searchIvfPq(spark, d, emb,
        probes = emb.where($"vec_id" < 10), k = 5, nProbe = 8, rerank = 8)),
      None),
    Subject("ShingleStore", ShingleStore.store,
      d => ShingleStore.build(spark, corpus.where($"doc_id" % 2 === 0), d, n = 3, batchId = 0),
      (d, b) => ShingleStore.append(spark, corpus.where($"doc_id" % 2 === 1), d, batchId = b),
      d => canon(ShingleStore.read(spark, d)),
      Some(_.count())))

  /** What a reader sees: the ledger row, the gated relation, the public
    * answer — plus the two bookkeeping identities checked on it.
    */
  private def observe(s: Subject, dir: String): (Seq[String], Seq[String]) = {
    val (ledger, rel) = s.store.read(spark, dir)
    val served = rel.count()
    val live = SeqStore.minSeq(ledger).toInt to ledger.getAs[Long]("max_seq").toInt
    assert(live.map(q => s.store.levelRows(spark, dir, q).get).sum == served,
      s"${s.name}: served rows must equal the footer rows of the live levels")
    s.docs.foreach(count => assert(count(rel) == ledger.getAs[Long]("n_docs"),
      s"${s.name}: the ledger's n_docs must count the served relation"))
    (canon(rel), s.answer(dir))
  }

  private def copy(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))

  private def delete(path: String): Unit =
    FileUtils.deleteDirectory(new File(path))

  /** Move every other part file of level 1 into the data dir's job
    * staging, as a crash during the append's job commit leaves it.
    */
  private def tearLevel1(s: Subject, dir: String): Unit = {
    val data = new File(s.store.dataDir(dir))
    val files = FileUtils.listFiles(data, null, true).toArray(Array.empty[File]).toSeq
      .filter(f => f.getParentFile.getName == "seq=1" && f.getName.startsWith("part-"))
      .sortBy(_.getPath)
    assert(files.nonEmpty, s"${s.name}: fixture must write level 1")
    files.zipWithIndex.filter(_._2 % 2 == 0).foreach { case (f, _) =>
      val rel = data.toPath.relativize(f.toPath)
      FileUtils.moveFile(f, new File(data, s"_temporary/0/_temporary/attempt_0/$rel"))
    }
  }

  /** The five crash states of an append, each built from the committed
    * store `after` and the pre-append ledger copy `pre`, and whether a
    * reader must see the batch.
    */
  private val crashes: Seq[(String, (Subject, String, String) => Unit, Boolean)] = Seq(
    ("partial level with _temporary left", { (s, d, pre) =>
      delete(s.store.ledgerDir(d)); copy(pre, s.store.ledgerDir(d)); tearLevel1(s, d)
    }, false),
    ("full level, no ledger commit", { (s, d, pre) =>
      delete(s.store.ledgerDir(d)); copy(pre, s.store.ledgerDir(d))
    }, false),
    ("ledger staged at .tmp", { (s, d, pre) =>
      val l = s.store.ledgerDir(d)
      assert(new File(l).renameTo(new File(StoreSwap.tmpPath(l))))
      copy(pre, l)
    }, false),
    ("ledger mid-swap (.old + .tmp, no ledger)", { (s, d, pre) =>
      val l = s.store.ledgerDir(d)
      assert(new File(l).renameTo(new File(StoreSwap.tmpPath(l))))
      copy(pre, StoreSwap.oldPath(l))
    }, false),
    ("ledger swapped, .old left behind", { (s, d, pre) =>
      copy(pre, StoreSwap.oldPath(s.store.ledgerDir(d)))
    }, true))

  test("crash matrix: every store, every append commit point — reads see before or after, retries converge") {
    subjects.foreach { s =>
      val base = Scratch.dir("seqstore_crash")
      s.build(base)
      val pre = Scratch.dir("seqstore_crash_ledger") + "/ledger"
      copy(s.store.ledgerDir(base), pre)
      val before = observe(s, base)
      s.append(base, 1)
      val after = observe(s, base)
      assert(before != after, s"${s.name}: the batch must change what readers see")
      crashes.foreach { case (state, make, visible) =>
        val d = Scratch.dir("seqstore_crash_state")
        copy(base, d)
        make(s, d, pre)
        assert(observe(s, d) == (if (visible) after else before),
          s"${s.name} / $state: reads must serve exactly the relation " +
            (if (visible) "after" else "before") + " the batch")
        s.append(d, 1)
        assert(observe(s, d) == after,
          s"${s.name} / $state: the retried batch must land exactly once")
        assert(s.store.committedWatermarks(spark, d).contains((1L, 1L)), s"${s.name} / $state")
        Seq(StoreSwap.tmpPath(s.store.ledgerDir(d)), StoreSwap.oldPath(s.store.ledgerDir(d)),
            s.store.dataDir(d) + "/_temporary").foreach(p =>
          assert(!new File(p).exists(), s"${s.name} / $state: $p must be cleaned up"))
      }
    }
  }

  test("an append past the Int seq range fails loudly and leaves reads unchanged") {
    subjects.foreach { s =>
      val d = Scratch.dir("seqstore_overflow")
      s.build(d)
      // plant a ledger whose max_seq is the last Int level
      val ledger = s.store.ledgerDir(d)
      spark.read.parquet(ledger).withColumn("max_seq", lit(Int.MaxValue.toLong))
        .write.parquet(StoreSwap.tmpPath(ledger))
      StoreSwap.commit(spark, ledger)
      val (rows, answer) = (canon(s.store.read(spark, d)._2), s.answer(d))
      val e = intercept[IllegalArgumentException](s.append(d, 1))
      assert(e.getMessage.contains("overflows"), e.getMessage)
      assert(canon(s.store.read(spark, d)._2) == rows && s.answer(d) == answer,
        s"${s.name}: a refused append must leave reads unchanged")
      assert(s.store.committedWatermarks(spark, d).contains((Int.MaxValue.toLong, 0L)))
      val levels = FileUtils.listFilesAndDirs(new File(s.store.dataDir(d)),
        org.apache.commons.io.filefilter.FalseFileFilter.INSTANCE,
        org.apache.commons.io.filefilter.TrueFileFilter.INSTANCE)
        .toArray(Array.empty[File]).map(_.getName).filter(_.startsWith("seq="))
      assert(levels.toSet == Set("seq=0"), s"${s.name}: no level may be written, got ${levels.toSet}")
    }
  }
}
