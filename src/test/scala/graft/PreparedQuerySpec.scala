package graft

/** A gate with a build/search split ([[SparkEntry.prepared]]) has one body:
  * the oracle checks the split the bench times. The three IVF-PQ gates are
  * the exception on purpose — their fused body runs the ad-hoc
  * `Similarity.ivfPqSearch` while their split runs the persisted index, so
  * holding the two equal is a real cross-path check.
  */
class PreparedQuerySpec extends SparkSuite {

  private val crossChecked = Seq("q_sim_ivfpq", "q_sim_ivfpq_residual", "q_sim_pq")

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

  test("a split gate has no second, fused body (IVF-PQ cross-checks aside)") {
    val both = SparkEntry.prepared.keySet & SparkEntry.fused.keySet
    assert(both == crossChecked.toSet,
      s"split gates that also carry a fused body: $both")
  }

  for (name <- crossChecked) {
    test(s"$name: build+search rows == fused query rows") {
      val p = SparkEntry.prepared(name)
      val fused = SparkEntry.fused(name)(spark, sfDir)
      val split = p.search(spark, sfDir, p.build(spark, sfDir))
      assert(split.schema.fieldNames.toSeq == fused.schema.fieldNames.toSeq)
      val f = fused.collect().map(_.toSeq).toSeq
      val s = split.collect().map(_.toSeq).toSeq
      assert(s == f, s"$name: split result differs from fused result")
    }
  }
}
