package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanAudit.normalise]]: the tokens that differ between two runs of
  * one commit come out the same, and nothing else is touched. */
class PlanAuditSpec extends AnyFunSuite {

  test("plan ids are renumbered by first appearance, per plan") {
    val plan = "Exchange [plan_id=57]\nExchange [plan_id=12]\nReused [plan_id=57]"
    assert(PlanAudit.normalise(plan) ==
      "Exchange [plan_id=1]\nExchange [plan_id=2]\nReused [plan_id=1]")
    assert(PlanAudit.normalise("Exchange [plan_id=99]") == "Exchange [plan_id=1]")
  }

  test("stage paths, lambda class names and identity hashes lose their run-specific parts") {
    val plan = "Location: InMemoryFileIndex [file:/tmp/graft_stage_1482714799/" +
      "shingle_profiles3x16_15234046504244357021]\n" +
      "Arguments: graft.queries.Extras$$$Lambda$7411/0x00007f66d1a36000@4f58370b, " +
      "TopKPairs@96c36db, [[F@3181d, l_quantity#4"
    assert(PlanAudit.normalise(plan) ==
      "Location: InMemoryFileIndex [file:/tmp/graft_stage_N/shingle_profiles3x16_N]\n" +
      "Arguments: graft.queries.Extras$$$Lambda$N, TopKPairs, [[F, l_quantity#4")
  }
}
