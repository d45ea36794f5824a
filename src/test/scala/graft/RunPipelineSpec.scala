package graft

import graft.pipeline.PartitionMetrics
import org.scalatest.funsuite.AnyFunSuite

class RunPipelineSpec extends AnyFunSuite {

  test("summaryLine sums the commit's metrics rows and lists failure codes sorted") {
    val rows = Seq(
      PartitionMetrics("r1", 3, 5, 900, 12, Map("timeout" -> 1L, "bad_pdf" -> 2L)),
      PartitionMetrics("r1", 0, 4, 100, 7, Map.empty),
      PartitionMetrics("r1", 1, 2, 50, 0, Map("bad_pdf" -> 1L, "encrypted" -> 1L)))
    val line = """{"run":"r1","docs":11,"spans":19,"failures":"bad_pdf=3,encrypted=1,timeout=1","committed_runs":2}"""
    assert(RunPipeline.summaryLine("r1", rows, 2) == line)
    // the line does not depend on the order of the rows or of their maps
    assert(RunPipeline.summaryLine("r1", rows.reverse.map(m => m.copy(failures = m.failures.toSeq.reverse.toMap)), 2) == line)
  }

  test("summaryLine of an empty commit") {
    assert(RunPipeline.summaryLine("r2", Seq.empty, 3) ==
      """{"run":"r2","docs":0,"spans":0,"failures":"","committed_runs":3}""")
  }
}
