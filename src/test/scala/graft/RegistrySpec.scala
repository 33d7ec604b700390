package graft

/** The registry table in [[SparkEntry]]: one row per query. `queries` and
  * `oracleSql` are maps built from the rows, so a query name written on two
  * rows would silently keep only the later row. */
class RegistrySpec extends SparkSpec {

  test("no query name appears on two registry rows") {
    val dups = SparkEntry.registry.groupBy(_.name).collect { case (n, rs) if rs.size > 1 => n }
    assert(dups.isEmpty, s"names on more than one row: ${dups.toSeq.sorted.mkString(", ")}")
    assert(SparkEntry.queries.size == SparkEntry.registry.size)
  }

  test("the two shared oracles stay shared") {
    val o = SparkEntry.oracleSql
    assert(o("d_dedup_pipeline_bucketed") == o("d_dedup_pipeline"))
    assert(o("e_ann_index_lookup") == o("e_ann_ivfpq"))
    assert(o("q_json_scan") == o("q_orc_scan"))
  }
}
