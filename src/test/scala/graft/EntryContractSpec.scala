package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract guards for SparkEntry: every oracle points at a real
  * query, and the SOURCE text declares each query/oracle key exactly once
  * — a Scala Map literal silently keeps the last duplicate, so a repeated
  * key would swap in a different query under an existing name with no
  * compile error (it happened: a second `text_repetition` shadowed the
  * first until this scan existed). */
class EntryContractSpec extends AnyFunSuite {

  test("every oracleSql key has a queries entry and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracles without queries: ${(o -- q).toSeq.sorted}")
    assert((q -- o).isEmpty, s"queries without oracles (rows-only — add an " +
      s"oracle or document why): ${(q -- o).toSeq.sorted}")
  }

  test("selectQueries: no name selects all; unknown names fail, all listed") {
    assert(SparkEntry.selectQueries(Nil).keySet === SparkEntry.queries.keySet)
    assert(SparkEntry.selectQueries(Seq(" ", "")).size ===
      SparkEntry.queries.size)
    val picked = Seq(" graph_bfs", "tube_customer_doc ", "tube_customer_doc")
    assert(SparkEntry.selectQueries(picked).keySet ===
      Set("graph_bfs", "tube_customer_doc"))
    val e = intercept[IllegalArgumentException](
      SparkEntry.selectQueries(Seq("graph_bfs", "no_such_b", "no_such_a")))
    assert(e.getMessage.contains("no_such_a, no_such_b"))
    assert(!e.getMessage.contains("graph_bfs"))
  }

  test("SparkEntry source declares each query and oracle key exactly once") {
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    val qKeys = """"([a-z0-9_]+)" -> \(\(s, dir\)""".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
    val qDups = qKeys.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(qDups.isEmpty, s"duplicate query keys (last silently wins): $qDups")
    assert(qKeys.size == SparkEntry.queries.size,
      s"source declares ${qKeys.size} queries, map holds ${SparkEntry.queries.size}")
    // oracle keys last-win just as silently: every oracle key must be
    // declared as `"key" ->` exactly TWICE in the source — once in
    // queries, once in oracleSql. A third arrow declaration means a
    // duplicate oracle entry is shadowing (or being shadowed by) another.
    val arrowKeys = """"([a-z0-9_]+)" ->""".r
      .findAllMatchIn(src).map(_.group(1)).toSeq
      .groupBy(identity).view.mapValues(_.size).toMap
    val bad = SparkEntry.oracleSql.keySet.toSeq.sorted
      .filter(k => arrowKeys.getOrElse(k, 0) != 2)
    assert(bad.isEmpty, s"oracle keys not declared exactly twice " +
      s"(query + oracle): ${bad.map(k => s"$k=${arrowKeys(k)}")}")
  }
}
