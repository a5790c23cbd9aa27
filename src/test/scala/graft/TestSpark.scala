package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all specs (JVM-forked once by sbt). Mirrors
  * the Verify/Bench builder config, including the nanosAsLong conf the
  * events accessor asserts on.
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Smallest scale factor — used by specs that read the driver corpus. */
  val sfDir = "/root/testdata/sf0.001"

  /** The reference contract fixture tree (FIXTURES.md §A). */
  val referenceContracts: String = graft.queries.ContractQueries.referenceRoot

  /** Whether this host carries the reference contract fixtures. */
  def referenceContractsPresent: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(referenceContracts))

  /** Cancels (not fails) the calling test on a host without the fixtures. */
  def assumeReferenceContracts(): Unit =
    org.scalatest.Assertions.assume(referenceContractsPresent,
      s"reference contract fixtures absent: $referenceContracts")

  /** The registry the registry-wide guards iterate: all of it, minus the
    * contract queries (q45/q46, which read the reference fixtures) on a
    * host without those fixtures.
    */
  def registryRunnableHere: Seq[graft.queries.Q] =
    if (referenceContractsPresent) SparkEntry.registry
    else {
      val contract = graft.queries.ContractQueries.all.map(_.name).toSet
      SparkEntry.registry.filterNot(q => contract(q.name))
    }
}
