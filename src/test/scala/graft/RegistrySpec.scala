package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry-wide guards: every declared operator actually executes on the
  * smallest corpus and produces rows — the local form of the driver's
  * smoke check, run for ALL queries rather than just the flagship (on a
  * host without the reference contract fixtures, all but the contract
  * queries that read them: `TestSpark.registryRunnableHere`).
  */
class RegistrySpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("query names are unique and well-formed") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.forall(_.matches("q\\d{2,3}_[a-z0-9_]+")))
    // every oracle belongs to a registered query
    assert(SparkEntry.oracleSql.keySet.subsetOf(names.toSet))
  }

  test("every registry query executes at sf0.001 and returns rows") {
    val failures = TestSpark.registryRunnableHere.flatMap { q =>
      try {
        spark.sqlContext.clearCache()
        val df = q.fn(spark, TestSpark.sfDir)
        assert(df.columns.nonEmpty)
        if (df.limit(1).collect().isEmpty) Some(s"${q.name}: 0 rows") else None
      } catch { case e: Throwable => Some(s"${q.name}: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).limit(1).collect().nonEmpty)
  }

  test("every oracled multi-row query pins its row order at the plan root") {
    import org.apache.spark.sql.catalyst.plans.logical._
    // the driver's hash compare is ROW-ORDER-sensitive: an oracled query
    // without a root ORDER BY only passes by luck of partition layout.
    // Exemption: q02 returns one row by key equality — order-free.
    val exempt = Set("q02_point_lookup")
    def singlePartition(p: LogicalPlan): Boolean = p match {
      case r: Repartition => r.numPartitions == 1
      case r: RepartitionByExpression => r.optNumPartitions.contains(1)
      case _ => false
    }
    def ordered(p: LogicalPlan): Boolean = p match {
      // a LOCAL sort is total iff its child collapses to one partition —
      // the PresentationSortRule's rewrite (pinned in PlanSpec)
      case s: Sort => s.global || singlePartition(s.child)
      case l: GlobalLimit => ordered(l.child)
      case l: LocalLimit => ordered(l.child)
      case pr: Project => ordered(pr.child)
      case a: Aggregate => a.groupingExpressions.isEmpty // single row
      case _ => false
    }
    val bad = TestSpark.registryRunnableHere
      .filter(q => q.oracle.isDefined && !exempt(q.name))
      .flatMap { q =>
        spark.sqlContext.clearCache()
        val lp = q.fn(spark, TestSpark.sfDir).queryExecution.optimizedPlan
        if (!ordered(lp)) Some(s"${q.name}: root ${lp.getClass.getSimpleName}")
        else None
      }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
