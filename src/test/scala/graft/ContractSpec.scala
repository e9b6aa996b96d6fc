package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants that a typo would otherwise surface only in
  * the (slow, external) correctness gate: every oracle belongs to a real
  * query, and the no-oracle set is exactly the four documented exceptions.
  */
class ContractSpec extends AnyFunSuite {

  test("every oracleSql key names a queries() entry") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without a query: $orphans")
  }

  test("no graft.ops source writes session conf") {
    // a fixpoint loop's settings live on its own session clone
    // (IterTuning.sized); a conf write in an op would change every query
    // that shares the session, and two such writers race on it
    val ops = new java.io.File("src/main/scala/graft/ops")
    val sources = Option(ops.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".scala"))
    assert(sources.nonEmpty, s"no sources under ${ops.getAbsolutePath}")
    val write = "conf\\s*\\.\\s*set".r
    val writers = sources.filter { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try write.findFirstIn(src.mkString).isDefined finally src.close()
    }
    assert(writers.isEmpty, s"session conf written in ${writers.map(_.getName).mkString(", ")}")
  }

  test("the no-oracle set is exactly the documented four") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle == Set("qs3_ann_ivf",
      "qx1_extract_text", "qx2_extract_stats", "qx3_overlay_specs"),
      s"undocumented no-oracle queries: $noOracle")
  }

  test("oracle SQL only references the driver-provided tables") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    val fromJoin = "(?i)(?:FROM|JOIN)\\s+([a-z_][a-z0-9_]*)".r
    for ((name, sql) <- SparkEntry.oracleSql) {
      // collect base-relation identifiers; CTE names defined in the SQL
      // itself are legal too
      // CTE heads: `name AS (`, the recursive `name(col, ...) AS (` form,
      // and DuckDB's `name AS MATERIALIZED (` (qg7's anti-inlining guard)
      val cteNames = ("(?i)(?:WITH(?:\\s+RECURSIVE)?|,)\\s+([a-z_][a-z0-9_]*)" +
        "\\s*(?:\\([^)]*\\))?\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(").r
        .findAllMatchIn(sql).map(_.group(1)).toList
      // a shared fragment spliced into a host that already defines one of
      // its CTE names (`w`, `sh`, ...) would otherwise fail only in DuckDB
      val redefined = cteNames.groupBy(identity).collect { case (n, l) if l.size > 1 => n }
      assert(redefined.isEmpty, s"$name defines CTEs more than once: $redefined")
      val refs = fromJoin.findAllMatchIn(sql).map(_.group(1)).toSet
      // UNNEST is a lateral table FUNCTION (qd11's prefix-position expansion),
      // not a base relation
      val tableFns = Set("unnest", "UNNEST")
      val unknown = refs -- tables -- cteNames -- tableFns
      assert(unknown.isEmpty, s"$name references unknown relations: $unknown")
    }
  }
}
