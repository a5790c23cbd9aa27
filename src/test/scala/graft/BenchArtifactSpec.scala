package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver keeps only the LAST 2000 characters of Bench's stdout —
  * BENCH_r07.json lost its first ten queries to that window. This guard
  * recomputes the worst-case JSON line length from the CURRENT registry
  * so the suite fails the moment new queries would push the artifact
  * past the capture window (the fix is then deliberate — shorter names,
  * or a tighter format — instead of a silently truncated artifact).
  */
class BenchArtifactSpec extends AnyFunSuite {

  test("bench stdout JSON fits the driver's 2000-char tail window at worst case") {
    val benched = SparkEntry.registry.filter(_.bench)
    // stdout keys are the qNN prefix (Bench.key) — they must stay unique
    // or the queries map silently drops entries
    val shorts = benched.map(_.name.takeWhile(_ != '_'))
    assert(shorts.distinct.size == shorts.size,
      s"duplicate qNN prefixes: ${shorts.diff(shorts.distinct).mkString(",")}")
    // worst case per entry: "qNN":99.99 — every query under 100 s at the
    // stdout map's 10 ms resolution (r15), ~60× the worst observed
    // per-query time even in loaded windows, so the bound is safely
    // pessimistic without budgeting for a broken run (-1.00 for a failed
    // query is the same 5 chars)
    val entries = shorts.map(_.length + 2 + 1 + 5)
    val prefix = """{"metric":"total","value":99999.999,"unit":"sec","queries":{""".length
    val suffix = """},"sf":"sf0.001"}""".length
    // Bench appends `"failed_n":N,"failed":[...]` when queries crash,
    // capped at the FIRST 10 names on stdout (stderr's `[bench] FAILED:`
    // lines carry the full list) — budget that worst case so a crashing
    // pass still yields a parseable tail, which is exactly when the
    // artifact matters most
    val failedNames = shorts.sortBy(-_.length).take(10)
    val failedWorst = s""","failed_n":${shorts.size},"failed":[""".length +
      failedNames.map(_.length + 2).sum + (failedNames.size - 1) + 1
    val worst = prefix + entries.sum + (entries.size - 1) + suffix + failedWorst
    assert(worst < 2000,
      s"projected bench JSON line $worst chars for ${benched.size} benched queries — " +
        "the driver captures only the last 2000; shorten names or the format")
  }

  test("the contract JSON is the LAST stdout write in Bench.main (r19, the verdict's ask #8)") {
    // PERF_r18 shipped comparison-free because the driver's parser reads
    // the FINAL stdout line; nothing may print to stdout after the
    // artifact. Spark/sbt log to stderr, so the one structural hazard is
    // a println added below the artifact — pin the source shape: after
    // the `println(out)` that emits the artifact, no further stdout
    // write appears in main (only spark.stop()).
    val src = {
      val s = scala.io.Source.fromFile("src/main/scala/graft/Bench.scala", "UTF-8")
      try s.mkString finally s.close()
    }
    val i = src.lastIndexOf("println(out)")
    assert(i >= 0, "Bench.main no longer emits the artifact via println(out)")
    val after = src.substring(i + "println(out)".length)
    assert(!after.contains("println(") && !after.contains("System.out"),
      "stdout write after the contract JSON — the driver parses the " +
        s"final stdout line; move it above or to stderr:\n$after")
  }
}
