package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** `Explain.normalize` keeps what a plan is and drops what a run
  * numbered: two builds of `graph_closeness_panel` whose adaptive
  * stages finished in different orders (committed under
  * `plans/r9/closeness_load_run/`) hash alike, and a changed operator
  * still hashes apart. */
class ExplainSpec extends AnyFunSuite {
  private val runs = Seq("change_perfbench_sf0.01_1.txt", "change_perfbench_sf0.01_2.txt")
    .map(f => Files.readString(Paths.get("plans/r9/closeness_load_run", f)))

  private def hash(plan: String) = Explain.digest(Explain.normalize(plan))

  test("query-stage and codegen numbering does not move a plan's digest") {
    assert(runs(0) != runs(1), "the two committed runs are numbered alike")
    assert(hash(runs(0)) == hash(runs(1)))
  }

  test("two plans that differ in one operator still hash apart") {
    val changed = runs(1).replaceFirst("\\(42\\) BroadcastHashJoin", "(42) SortMergeJoin")
    assert(changed != runs(1))
    assert(hash(changed) != hash(runs(1)))
    val moreStages = runs(1).replaceFirst("ShuffleQueryStage", "BroadcastQueryStage")
    assert(hash(moreStages) != hash(runs(1)))
  }
}
