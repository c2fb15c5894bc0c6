package graft

import graft.model.StoreSwap
import graft.streaming.{LabelStore, UpsertStore}
import java.io.File
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.DataFrame

/** The bucket-store protocol ([[graft.model.BucketStore]]) cut at each
  * point of a whole-dir replace, for both stores built on it. A store is
  * built, compacted in a copy, and the crash states are composed from
  * the two versions. In every state reads and lookups serve the relation
  * from before the crash, `maintain` neither throws nor loses rows, and
  * the next fold lands exactly the relation a clean store reaches and
  * leaves no sibling dir.
  */
class BucketStoreCrashSpec extends SparkSpec {
  import spark.implicits._

  /** A store under test: its build (several folds, several files per
    * bucket), the next fold, its full read and a lookup of a few keys,
    * and its maintain (forced to compact) and compact.
    */
  private case class Subject(name: String, build: String => Unit, next: String => Unit,
      read: String => Option[DataFrame], lookup: String => Option[DataFrame],
      maintain: String => Boolean, compact: String => Unit)

  private val keys = Seq("k")

  private val subjects = Seq(
    Subject("UpsertStore",
      d => {
        UpsertStore.fold(spark, d, (0L until 32L).map(i => (i, s"v0-$i")).toDF("k", "v"), keys, seq = 0)
        UpsertStore.fold(spark, d, (0L until 32L by 2).map(i => (i, s"v1-$i")).toDF("k", "v"), keys, seq = 1)
        UpsertStore.fold(spark, d, Seq((5L, null.asInstanceOf[String], true)).toDF("k", "v", "del"),
          keys, seq = 2, deletedCol = Some("del"))
      },
      d => UpsertStore.fold(spark, d, Seq((5L, "v3-5"), (6L, "v3-6"), (40L, "v3-40")).toDF("k", "v"),
        keys, seq = 3),
      d => UpsertStore.read(spark, d, keys),
      d => UpsertStore.lookup(spark, d, keys, Seq(3L, 4L, 5L, 40L).map(Seq(_))),
      d => UpsertStore.maintain(spark, d, keys, maxFiles = 0),
      d => UpsertStore.compact(spark, d, keys)),
    Subject("LabelStore",
      d => {
        LabelStore.fold(spark, d, Seq.tabulate(32)(i => (i.toLong, i + 100L)).toDF("src", "dst"))
        LabelStore.fold(spark, d, Seq((0L, 1L), (2L, 3L)).toDF("src", "dst"))
      },
      d => LabelStore.fold(spark, d, Seq((1L, 2L), (500L, 501L)).toDF("src", "dst")),
      d => LabelStore.read(spark, d),
      d => LabelStore.lookup(spark, d, Seq(0L, 101L, 3L, 500L)),
      d => LabelStore.maintain(spark, d, maxFiles = 0),
      d => LabelStore.compact(spark, d)))

  private def rows(df: Option[DataFrame]): Option[Set[String]] =
    df.map(_.collect().map(_.toSeq.mkString("|")).toSet)

  /** What a reader sees: the full relation and the lookup's answer. */
  private def observe(s: Subject, d: String): (Option[Set[String]], Option[Set[String]]) =
    (rows(s.read(d)), rows(s.lookup(d)))

  private def copy(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))

  private def store(): String = Scratch.dir("bucketstore_crash") + "/store"

  private def assertNoSiblings(d: String, what: String): Unit =
    Seq(StoreSwap.tmpPath(d), StoreSwap.oldPath(d)).foreach(p =>
      assert(!new File(p).exists(), s"$what: $p must be cleaned up"))

  /** The crash states of a whole-dir replace, each built into `d` from
    * the live version `base` and its compacted version `compacted`.
    */
  private val crashes: Seq[(String, (String, String, String) => Unit)] = Seq(
    ("compact staged at .tmp, not swapped", { (base, compacted, d) =>
      copy(base, d); copy(compacted, StoreSwap.tmpPath(d))
    }),
    ("compact cut between its renames (no live dir, .old and a complete .tmp)", { (base, compacted, d) =>
      copy(base, StoreSwap.oldPath(d)); copy(compacted, StoreSwap.tmpPath(d))
    }),
    ("compact swapped, .old left behind", { (base, compacted, d) =>
      copy(compacted, d); copy(base, StoreSwap.oldPath(d))
    }))

  test("compact crash matrix: both stores — reads and lookups serve the old relation, maintain and the next fold converge") {
    subjects.foreach { s =>
      val base = store()
      s.build(base)
      val before = observe(s, base)
      assert(before._1.exists(_.nonEmpty) && before._2.exists(_.nonEmpty), s"${s.name}: fixture must serve rows")
      val compacted = store()
      copy(base, compacted)
      s.compact(compacted)
      assert(observe(s, compacted) == before, s"${s.name}: compaction must not change reads")
      val clean = store()
      copy(base, clean)
      s.next(clean)
      val after = observe(s, clean)
      assert(after != before, s"${s.name}: the next fold must change what readers see")
      crashes.foreach { case (state, make) =>
        val what = s"${s.name} / $state"
        val d = store()
        make(base, compacted, d)
        assert(observe(s, d) == before, s"$what: reads must serve the relation from before the crash")
        assert(s.maintain(d), s"$what: maintain at maxFiles = 0 must compact")
        assert(observe(s, d) == before, s"$what: maintain must not lose or change rows")
        assertNoSiblings(d, s"$what, after maintain")
        val d2 = store()
        make(base, compacted, d2)
        s.next(d2)
        assert(observe(s, d2) == after, s"$what: the next fold must converge to the clean store's relation")
        assertNoSiblings(d2, s"$what, after the next fold")
      }
    }
  }

  test("a LabelStore bootstrap staged but not renamed reads as never written; the replayed batch lands it") {
    val batch = Seq((1L, 2L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val clean = store()
    LabelStore.fold(spark, clean, batch)
    val want = rows(LabelStore.read(spark, clean))
    val lab = subjects.find(_.name == "LabelStore").get
    def crashed(): String = { val d = store(); copy(clean, StoreSwap.tmpPath(d)); d }
    val d = crashed()
    assert(lab.read(d).isEmpty && lab.lookup(d).isEmpty,
      "staging cut before its rename must not be served")
    val d2 = crashed()
    assert(!lab.maintain(d2), "nothing to maintain in a never-written store")
    assert(lab.read(d2).isEmpty)
    assertNoSiblings(d2, "after maintain")
    val d3 = crashed()
    LabelStore.fold(spark, d3, batch) // the streaming engine replays the batch
    assert(rows(LabelStore.read(spark, d3)) == want, "the replayed bootstrap must land the full labeling")
    assertNoSiblings(d3, "after the replayed bootstrap")
    lab.next(d3)
    lab.next(clean)
    assert(observe(lab, d3) == observe(lab, clean), "folds continue from the replayed bootstrap")
  }
}
