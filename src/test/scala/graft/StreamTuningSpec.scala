package graft

import graft.streaming.StreamTuning

/** Pins the scale-adaptive drain-partition derivation (r21 optimization:
  * stateful streaming plans get no AQE coalescing, so the state-store
  * partition count must be derived from input size, not inherited from
  * the session constant). */
class StreamTuningSpec extends SparkSpec {

  private def tmpFile(bytes: Int): String = {
    val p = java.nio.file.Files.createTempFile("graft-st", ".bin")
    java.nio.file.Files.write(p, new Array[Byte](bytes))
    p.toFile.deleteOnExit()
    p.toString
  }

  test("small input coalesces to one partition, clamped at >= 1") {
    val f = tmpFile(1024)
    assert(StreamTuning.drainPartitions(spark, Seq(f)) == 1)
  }

  test("partition count grows with input bytes at the advisory size " +
      "and clamps at the session ceiling") {
    val prevAdv = spark.conf.getOption(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    try {
      // 64 KB advisory, 200 KB input -> ceil = 4, but session ceiling is
      // spark.sql.shuffle.partitions = 4 in tests, so both clamp paths
      // are exercised: derived 4 == allowed 4; a 1 MB input still reads 4
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64kb")
      val f = tmpFile(200 * 1024)
      assert(StreamTuning.drainPartitions(spark, Seq(f)) == 4)
      val big = tmpFile(1024 * 1024)
      assert(StreamTuning.drainPartitions(spark, Seq(big)) == 4)
    } finally prevAdv match {
      case Some(v) => spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", v)
      case None => spark.conf.unset(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    }
  }

  test("empty/unknown input keeps the session value") {
    // no paths / missing path: never invent a tiny drain
    val cur = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(StreamTuning.drainPartitions(spark, Nil) == cur)
    assert(StreamTuning.drainPartitions(spark,
      Seq("/nonexistent/graft-st")) == cur)
  }

  test("sizeOf answers through the Hadoop FileSystem API: bare local " +
      "path, file:/ URI, comma list, glob, directory") {
    val f = tmpFile(4096)
    // bare local path and the qualified file: URI must agree (the r21
    // java.io.File walk would return 0 for any non-local scheme — the
    // Hadoop FS route resolves both)
    assert(StreamTuning.sizeOf(spark, f) == 4096L)
    assert(StreamTuning.sizeOf(spark, s"file:$f") == 4096L)
    // comma-separated list sums; missing entries count 0
    val g = tmpFile(1024)
    assert(StreamTuning.sizeOf(spark, s"$f,$g") == 5120L)
    assert(StreamTuning.sizeOf(spark, s"$f,/nonexistent/graft-st") == 4096L)
    // directory: recursive content size; glob over the dir resolves too
    val dir = java.nio.file.Files.createTempDirectory("graft-st-dir")
    java.nio.file.Files.write(dir.resolve("a.bin"), new Array[Byte](100))
    java.nio.file.Files.write(dir.resolve("b.bin"), new Array[Byte](23))
    dir.toFile.deleteOnExit()
    assert(StreamTuning.sizeOf(spark, dir.toString) == 123L)
    assert(StreamTuning.sizeOf(spark, s"$dir/*.bin") == 123L)
  }

  test("sizeOf keeps a brace glob's alternation whole: dir/{a,b}/*.bin " +
      "sizes both halves, also inside a comma list") {
    val dir = java.nio.file.Files.createTempDirectory("graft-st-brace")
    Seq("a" -> 100, "b" -> 23, "c" -> 7).foreach { case (sub, n) =>
      val d = java.nio.file.Files.createDirectory(dir.resolve(sub))
      java.nio.file.Files.write(d.resolve("x.bin"), new Array[Byte](n))
    }
    assert(StreamTuning.sizeOf(spark, s"$dir/{a,b}/*.bin") == 123L)
    assert(StreamTuning.sizeOf(spark, s"$dir/{a,b}/*.bin,$dir/c/x.bin") == 130L)
  }

  test("withDrainPartitions pins for the body and restores the session " +
      "value after") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val f = tmpFile(1024)
    val seen = StreamTuning.withDrainPartitions(spark, Seq(f)) {
      spark.conf.get("spark.sql.shuffle.partitions")
    }
    assert(seen == "1")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
    // restore also on failure
    intercept[RuntimeException] {
      StreamTuning.withDrainPartitions(spark, Seq(f)) {
        throw new RuntimeException("boom")
      }
    }
    assert(spark.conf.get("spark.sql.shuffle.partitions") == before)
  }
}
