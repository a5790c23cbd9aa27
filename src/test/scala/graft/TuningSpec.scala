package graft

import org.scalatest.funsuite.AnyFunSuite

class TuningSpec extends AnyFunSuite {
  import graft.util.Tuning

  test("bench posture is unchanged at small scale: sf dirs stay at the cores floor") {
    // the derived default must reproduce the historical 32-partition
    // posture at every driver-run scale, so timings taken at these
    // scales stay comparable across changes to the derivation
    for (d <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1"))
      assert(Tuning.shufflePartitions(d, 32) == 32, d)
    // the 4-core default posture holds too: sf0.1's ~7 derived
    // partitions sit inside the two-wave hysteresis, so the historical
    // 4-partition bench numbers stay comparable at ANY core count
    assert(Tuning.shufflePartitions("/root/testdata/sf0.1", 4) == 4)
    // a corpus-less (relational-only) dir degrades to the floor too
    assert(Tuning.corpusBytes("/nonexistent") == 0L)
    assert(Tuning.shufflePartitions("/nonexistent", 32) == 32)
  }

  test("partition count scales linearly with corpus bytes past the floor, in whole waves") {
    val b = Tuning.corpusBytes("/root/testdata/sf0.1")
    assert(b > 0)
    // a synthetic 100x of sf0.1's bytes lands near the measured
    // 512-partition sf10 floor (the r11/r12 q31 experiments): past the
    // two-wave hysteresis the formula is ceil(bytes / 200 KiB) rounded
    // up to a multiple of cores
    val p100 = {
      val byData =
        (b * 100 + Tuning.CorpusBytesPerPartition - 1) / Tuning.CorpusBytesPerPartition
      assert(byData > 64) // the data term engages
      (((byData + 31) / 32) * 32).toInt
    }
    assert(p100 >= 512 && p100 <= 1024, p100.toString)
    assert(p100 % 32 == 0)
  }

  test("two-class posture: only pair-expansion queries take the derived count") {
    // at a derived-count tier the classes diverge; at the cores floor
    // they coincide (sf<=0.1 bench posture bit-identical)
    assert(Tuning.queryPartitions(pairExpansion = false,
      "/root/testdata/sf0.1", 32) == 32)
    assert(Tuning.queryPartitions(pairExpansion = true,
      "/root/testdata/sf0.1", 32) ==
      Tuning.shufflePartitions("/root/testdata/sf0.1", 32))
    // the registry's class list resolves (typo'd names would silently
    // untag a query)
    val tagged = SparkEntry.registry.filter(_.pairExpansion).map(_.name)
    assert(tagged.toSet == Set(
      "q31_ngram_jaccard", "q76_containment", "q99_minhash_error"))
  }

  test("derived count is sanity-capped at 64x cores") {
    // a TB-scale directory must not derive millions of partitions — and
    // the assertion must run through the PRODUCTION function (an inline
    // re-derivation of the cap arithmetic would keep passing if the cap
    // were deleted from Tuning). A sparse file gives the dir a huge
    // apparent corpus without writing bytes: local getContentSummary
    // reads file LENGTH, which setLength sets without allocation.
    val cores = 32
    val dir = java.nio.file.Files.createTempDirectory("graft-cap").toString
    val f = new java.io.RandomAccessFile(s"$dir/documents.parquet", "rw")
    try f.setLength(10L * 1024 * 1024 * 1024) // 10 GB >> 64*32*200 KiB
    finally f.close()
    assert(Tuning.shufflePartitions(dir, cores) == 64 * cores)
    // and the floor at the other extreme still holds through the memo
    assert(Tuning.queryPartitions(pairExpansion = false, dir, cores) == cores)
  }
}
