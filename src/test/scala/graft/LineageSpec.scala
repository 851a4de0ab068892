package graft

import graft.Lineage.{Cap, Cut, Lazy, LineageOps, Radius}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable.ArrayBuffer

/** [[Lineage.iterate]]: the round cap, and what each persistence
  * policy leaves cached when the loop returns. */
class LineageSpec extends SparkSpec {

  /** The checkpointed RDD a cut frame scans. */
  private def cutRdd(df: DataFrame): Int = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.id
    case p => fail(s"not a cut frame: $p")
  }

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("Cut: after a 5-round fixpoint only the last round's frame is kept") {
    val held = spark.range(10).toDF("x").persist()
    held.count()
    val init = spark.range(10).toDF("x").truncateLineage(true)
    val frames = ArrayBuffer(init)
    val extras = ArrayBuffer.empty[DataFrame]
    val out = Lineage.iterate("cut_test", "rounds", Cut, Cap(8), init,
        held) { r =>
      val extra = r.prev.select((col("x") + 1).as("x")).transform(r.persist)
      extras += extra
      val next = extra.union(extra).distinct().transform(r.materialize)
      frames += next
      next.count() == 10 && r.index == 5
    }
    assert(frames.length == 6, "five rounds after init")
    assert(out eq frames.last)
    assert(out.agg(min("x")).head().getLong(0) == 5)
    assert(persistent.contains(cutRdd(out)), "the result's blocks are kept")
    for (f <- frames.init)
      assert(!persistent.contains(cutRdd(f)), "an earlier round is still cached")
    assert(!extras.exists(cached), "a round's persisted frame is still cached")
    assert(!cached(held), "the loop's held frame is still cached")
  }

  test("Lazy: every round's frame is still cached when the loop returns") {
    val init = spark.range(10).toDF("x").truncateLineage(true)
    val frames = ArrayBuffer.empty[DataFrame]
    var settled = init
    Lineage.iterate("lazy_test", "rounds", Lazy(), Radius(5), init) { r =>
      val next = r.prev.select((col("x") + 1).as("x"))
        .transform(r.materialize)
      frames += next
      settled = settled.union(next)
      false
    }
    assert(frames.length == 5)
    assert(settled.count() == 60)
    assert(frames.forall(cached), "Lazy released a round frame")
  }

  test("Lazy(cutEvery): every cutEvery-th round is cut, the others persisted") {
    val init = spark.range(3).toDF("x").truncateLineage(true)
    val frames = ArrayBuffer.empty[DataFrame]
    Lineage.iterate("lazy_test", "rounds", Lazy(2), Radius(5), init) { r =>
      frames += r.prev.select((col("x") + 1).as("x"))
        .transform(r.materialize)
      false
    }
    val isCut = frames.map(_.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(isCut.toSeq == Seq(false, true, false, true, false))
    assert(frames.zip(isCut).forall { case (f, c) => c || cached(f) })
  }

  test("a Cap names the query past its rounds; a Radius stops there") {
    val init = spark.range(1).toDF("x")
    def never(policy: Lineage.Policy, limit: Lineage.Limit): Seq[Int] = {
      val seen = ArrayBuffer.empty[Int]
      Lineage.iterate("cap_test", "the loop", policy, limit, init) { r =>
        seen += r.index
        r.materialize(r.prev)
        false
      }
      seen.toSeq
    }
    assert(never(Lazy(), Radius(3)) == Seq(1, 2, 3))
    for (policy <- Seq(Cut, Lazy())) {
      val ex = intercept[IllegalStateException](never(policy, Cap(3)))
      assert(ex.getMessage ==
        "cap_test: the loop did not converge within 3 rounds")
    }
    val noFrame = intercept[IllegalStateException] {
      Lineage.iterate("cap_test", "the loop", Cut, Cap(3), init)(_ => true)
    }
    assert(noFrame.getMessage.contains("materialized no frame"))
  }

  test("lineage cuts and loop releases happen only in Lineage.scala") {
    import scala.jdk.CollectionConverters._
    val cut = "localCheckpoint\\(|\\.checkpoint\\(".r
    val release = "\\.unpersist\\(".r
    assert(cut.findFirstIn("df.localCheckpoint(true)").isDefined)
    assert(cut.findFirstIn("df.checkpoint(eager)").isDefined)
    assert(release.findFirstIn("labels.unpersist()").isDefined)
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    val loopFiles = Seq("GraphQueries.scala", "DedupQueries.scala")
    assert(("Lineage.scala" +: loopFiles).forall(n => files.exists(_.endsWith(n))),
      "scan found no sources")
    val sites = files.filterNot(_.endsWith("Lineage.scala")).flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      val rules = if (loopFiles.exists(f.endsWith(_))) Seq(cut, release)
        else Seq(cut)
      rules.flatMap(_.findAllMatchIn(text).map(m => s"$f: ${m.matched}"))
    }
    assert(sites.isEmpty,
      s"persistence decided outside graft.Lineage:\n${sites.mkString("\n")}")
  }
}
