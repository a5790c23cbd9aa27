package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.contracts.{Derive, Ingest}
import graft.model.Schemas

/** S12/P2/J1 constraint surface: the built contract+function tables
  * satisfy every check the reference's DDL would have enforced.
  */
class SchemasSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val root = TestSpark.referenceContracts

  test("pipeline output passes all constraint checks") {
    TestSpark.assumeReferenceContracts()
    val contracts = Ingest.contracts(spark, root)
    val functions = Derive.functions(contracts).toDF()
    val v = Schemas.validate(contracts, functions)
    assert(v.values.forall(_ == 0L), v)
  }

  test("ingest output conforms to the declared contract schema shape") {
    TestSpark.assumeReferenceContracts()
    val got = Ingest.contracts(spark, root).schema
    assert(got.fieldNames.toSeq == Schemas.contractSchema.fieldNames.toSeq)
    assert(got("files").dataType.simpleString ==
      Schemas.contractSchema("files").dataType.simpleString)
    assert(got("metadata").dataType.simpleString ==
      Schemas.metadataType.simpleString)
  }

  test("violations are surfaced, not swallowed") {
    import spark.implicits._
    val bad = Seq(("x1", "solidity++"), ("x2", "json")).toDF("id", "source_type")
    assert(Schemas.sourceTypeViolations(bad).collect()
      .map(_.getString(0)).toSeq == Seq("x1"))
    val fns = Seq(("f1", "x2"), ("f2", "ghost")).toDF("id", "contract_id")
    val cts = Seq(("x2", "a")).toDF("id", "name")
    assert(Schemas.fkViolations(fns, cts).collect()
      .map(_.getString(1)).toSeq == Seq("f2"))
    val dup = Seq(("d", 1), ("d", 2), ("e", 3)).toDF("id", "v")
    assert(Schemas.duplicateIds(dup).collect().map(_.getString(0)).toSeq == Seq("d"))
  }
}
