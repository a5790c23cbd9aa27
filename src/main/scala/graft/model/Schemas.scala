package graft.model

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S12 schema objects (SURVEY §1.4): the engine-side equivalents of the
  * reference's DDL bootstrap (`db.rs:59-88`). Spark has no enforced
  * ENUM/PK/FK, so the DDL's guarantees split into (a) StructType constants
  * used by readers/writers and (b) validation checks a pipeline can
  * assert after a build — the constraint surface as code.
  */
object Schemas {

  /** `source_type_enum` domain (`db.rs:62`). */
  val SourceTypes: Set[String] = Set("json", "vyper", "single_sol", "multi_sol")

  val metadataType: StructType = StructType(Seq(
    StructField("contract_name", StringType),
    StructField("compiler_version", StringType),
    StructField("runs", IntegerType, nullable = false),
    StructField("optimization_used", BooleanType, nullable = false),
    StructField("bytecode_hash", StringType)))

  val sourceFileType: StructType = StructType(Seq(
    StructField("name", StringType),
    StructField("content", StringType)))

  /** `contract` (`db.rs:65-71`) with `source` normalized to a typed files
    * array (§1.4) instead of a JSON-string column.
    */
  val contractSchema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("name", StringType),
    StructField("metadata", metadataType),
    StructField("source_type", StringType, nullable = false),
    StructField("files", ArrayType(sourceFileType))))

  /** `function` (`db.rs:74-84`) plus the `resolved` flag: the schema
    * [[graft.contracts.Derive]] writes and every reader reads.
    */
  val functionSchema: StructType =
    Encoders.product[graft.contracts.Derive.FunctionRow].schema

  /** P2 domain check: rows whose source_type is outside the enum.
    * (The reference panics via `unreachable!`, `db.rs:31`; we surface the
    * violating rows instead.)
    */
  def sourceTypeViolations(contracts: DataFrame): DataFrame =
    // isNull explicitly: `!isin(...)` on a NULL is NULL and the filter
    // would silently pass the row, yet NULL violates the NOT NULL + enum
    // domain the DDL declares
    contracts.filter(col("source_type").isNull
      || !col("source_type").isin(SourceTypes.toSeq: _*))

  /** PK check: duplicate ids (write-time dedup should make this empty). */
  def duplicateIds(table: DataFrame): DataFrame =
    table.groupBy("id").count().filter(col("count") > 1)

  /** J1 FK check: function rows whose contract_id has no contract —
    * the unenforced-FK validation of SURVEY §1.4.
    */
  def fkViolations(functions: DataFrame, contracts: DataFrame): DataFrame =
    // SQL FK semantics (what DuckDB enforces for the reference's DDL):
    // a NULL FK value is NOT a violation, only a non-NULL dangling one is
    functions.filter(col("contract_id").isNotNull)
      .join(contracts.select(col("id").as("contract_id")),
        Seq("contract_id"), "left_anti")

  /** Run all constraint checks; returns (check name → violating rows). */
  def validate(contracts: DataFrame, functions: DataFrame): Map[String, Long] = Map(
    "source_type_domain" -> sourceTypeViolations(contracts).count(),
    "contract_pk" -> duplicateIds(contracts).count(),
    "function_pk" -> duplicateIds(functions).count(),
    "function_fk" -> fkViolations(functions, contracts).count())
}
