package graft.streaming

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** [[KeyedFold]] is the one keyed-state processor: its write rule keeps
  * a batch that re-derives the stored value from touching the state
  * store, and no operator spells out its own `StatefulProcessor`.
  */
class KeyedFoldSpec extends SparkSpec {
  import spark.implicits._

  /** State rows each batch updated, batch by batch. */
  private def rowsUpdatedPerBatch(batches: Seq[Seq[(Long, Int, Long)]]): Seq[Long] =
    withRocksDbProvider {
      implicit val sqlCtx = spark.sqlContext
      val input = MemoryStream[(Long, Int, Long)]
      val q = LshStream.gate(input.toDS())
        .writeStream.format("noop")
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Append)
        .start()
      try batches.zipWithIndex.map { case (b, i) =>
        input.addData(b)
        q.processAllAvailable()
        val deadline = System.currentTimeMillis() + 30000
        // an idle trigger reports the next batch id with no input
        def progress = q.recentProgress.find(p => p.batchId == i && p.numInputRows > 0)
        while (progress.isEmpty && System.currentTimeMillis() < deadline)
          Thread.sleep(50)
        assert(progress.isDefined, s"batch $i reported no progress")
        progress.get.stateOperators(0).numRowsUpdated
      } finally q.stop()
    }

  test("a replayed batch updates no state row; a new member updates one") {
    val first = Seq((1L, 0, 7L), (2L, 0, 7L))
    // the replay re-derives the stored BucketState(1, [2]) exactly
    val updated = rowsUpdatedPerBatch(Seq(first, first, Seq((3L, 0, 7L))))
    assert(updated == Seq(1L, 0L, 1L))
  }

  test("src/main has one StatefulProcessor, the fold, and no TtlModes") {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
      .iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("KeyedFold.scala")), "scan found no sources")
    val processors = files.flatMap { f =>
      "extends StatefulProcessor".r
        .findAllMatchIn(java.nio.file.Files.readString(f)).map(_ => f.getFileName.toString)
    }
    assert(processors == Seq("KeyedFold.scala"),
      s"StatefulProcessor subclasses: ${processors.mkString(", ")}")
    val ttlModes = files.filter(f =>
      java.nio.file.Files.readString(f).contains("TtlModes"))
    assert(ttlModes.isEmpty, s"TtlModes still named in ${ttlModes.mkString(", ")}")
  }
}
