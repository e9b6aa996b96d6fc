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

  test("only RunTally attaches listeners, and only the drain shim drains the bus") {
    // a hand-rolled listener that reads its counters without draining the
    // asynchronous bus counts late events in the next action's numbers
    val owners = Seq(
      "addSparkListener\\s*\\(" -> "src/main/scala/graft/obs/RunTally.scala",
      "listenerManager\\s*\\.\\s*register\\s*\\(" -> "src/main/scala/graft/obs/RunTally.scala",
      "waitUntilEmpty\\s*\\(" -> "src/main/scala/org/apache/spark/GraftBusDrain.scala")
    def sources(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
      }
    val all = Seq("src/main", "src/test").flatMap(d => sources(new java.io.File(d)))
    assert(all.nonEmpty, s"no sources under ${new java.io.File(".").getAbsolutePath}")
    val text = all.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try f.getPath -> src.mkString finally src.close()
    }
    for ((pattern, owner) <- owners) {
      val users = text.collect { case (p, s) if pattern.r.findFirstIn(s).isDefined => p }
      assert(users == Seq(owner), s"$pattern in ${users.mkString(", ")}")
    }
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
