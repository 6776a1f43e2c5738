package graft

import org.scalatest.funsuite.AnyFunSuite

/** `PlanDump` writes plans that two runs can `diff`: the tokens that vary
  * from run to run are masked or renumbered, and nothing else changes. */
class PlanDumpSpec extends AnyFunSuite {
  test("plan text masks run-varying tokens and renumbers JVM-wide counters") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir")).getPath
    val plan =
      s"""Project [UDF(id#6550, [[D@1b2c3d4e) AS h#6567, [Ljava.lang.String;@5f0e2a]
         |+- Exchange hashpartitioning(id#6550, 32), [plan_id=42413]
         |   +- Scan ExistingRDD[id#6550], MapPartitionsRDD[812] at localCheckpoint at GraftTable.scala:1063
         |   +- FileScan parquet [id#6551] Location: [file:$tmp/graft_docstore_9044038646266789379/doc_store/v00002/date=2024-03-01/part-00000-7ef7e225-59ad-4350-80dd-39cf5e69892b.c000.snappy.parquet]
         |      PushedFilters: [EqualTo(id,user@example.com), EqualTo(k,0xdeadbeef), EqualTo(p,/data/run_20240301)]""".stripMargin
    assert(PlanDump.mask(plan) ==
      s"""Project [UDF(id#0, [[D@<hash>) AS h#1, [Ljava.lang.String;@<hash>]
         |+- Exchange hashpartitioning(id#0, 32), [plan_id=0]
         |   +- Scan ExistingRDD[id#0], MapPartitionsRDD[0] at localCheckpoint at GraftTable.scala:<line>
         |   +- FileScan parquet [id#2] Location: [file:$tmp/graft_docstore_<tmp>/doc_store/v00002/date=2024-03-01/part-00000-<uuid>.c000.snappy.parquet]
         |      PushedFilters: [EqualTo(id,user@example.com), EqualTo(k,0xdeadbeef), EqualTo(p,/data/run_20240301)]""".stripMargin)
  }
}
