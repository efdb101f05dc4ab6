package graft

/** The bench's build/search split ([[SparkEntry.prepared]]) must return
  * EXACTLY what the fused gated-query body returns — the correctness gate
  * runs the fused body, the bench times the split, and any drift between
  * them would silently decouple the benchmark from the thing the oracle
  * verified.
  */
class PreparedQuerySpec extends SparkSuite {

  test("every prepared key is a gated query") {
    val unknown = SparkEntry.prepared.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"prepared keys with no gated query: $unknown")
  }

  test("every gated query has an oracle, and every oracle a gated query") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(q -- o == Set.empty, s"gated queries with no oracle SQL: ${q -- o}")
    assert(o -- q == Set.empty, s"oracle SQL with no gated query: ${o -- q}")
  }

  for ((name, p) <- SparkEntry.prepared.toSeq.sortBy(_._1)) {
    test(s"$name: build+search rows == fused query rows") {
      val fused = SparkEntry.queries(name)(spark, sfDir)
      val artifact = p.build(spark, sfDir)
      val split = p.search(spark, sfDir, artifact)
      assert(split.schema.fieldNames.toSeq == fused.schema.fieldNames.toSeq)
      val f = fused.collect().map(_.toSeq).toSeq
      val s = split.collect().map(_.toSeq).toSeq
      assert(s == f, s"$name: split result differs from fused result")
    }
  }
}
