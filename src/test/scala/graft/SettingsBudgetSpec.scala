package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every independently settable value doubles the configurations that
  * tests and benchmarks must cover, so the shipped code carries a fixed
  * budget of them (ROADMAP, "Quality of design"). Any mention of a name
  * under `src/main/scala` counts, comments included: a documented setting
  * is one a user may set. Raising a cap is a deliberate edit here, made
  * with the ROADMAP figure.
  */
class SettingsBudgetSpec extends AnyFunSuite {

  private def namesMatching(re: scala.util.matching.Regex): Set[String] = {
    val files = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    try {
      import scala.jdk.CollectionConverters._
      files.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
        re.findAllIn(java.nio.file.Files.readString(p)).toSeq
      }.toSet
    } finally files.close()
  }

  test("src/main reads at most 8 SPARK_GRAFT_* names and 7 spark.graft.* confs") {
    val env = namesMatching("SPARK_GRAFT_[A-Z_]+".r)
    assert(env.size <= 8,
      s"${env.size} SPARK_GRAFT_* names: ${env.toSeq.sorted.mkString(", ")}")
    val confs = namesMatching("""spark\.graft\.[A-Za-z]+(\.[A-Za-z]+)*""".r)
    assert(confs.size <= 7,
      s"${confs.size} spark.graft.* confs: ${confs.toSeq.sorted.mkString(", ")}")
  }
}
