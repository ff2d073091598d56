package graft

import org.apache.spark.sql.functions._
import graft.op.{Checker, Processors}
import graft.sink.{SqlGen, Sinks}

class ProcessorsSpec extends SparkSpec {
  import spark.implicits._

  private def changelog = Seq(
    (0L, 1L, "srcdb", "sbtest1", "insert", 1L, 10, 1.5),
    (1L, 1L, "srcdb", "sbtest1", "update", 1L, 11, 2.5),
    (2L, 2L, "srcdb", "other", "insert", 2L, 20, 3.5),
    (3L, 3L, "srcdb", "sbtest3", "delete", 3L, 30, 4.5)
  ).toDF("seq", "pk", "db", "tbl", "op", "r_id", "r_k", "r_v")

  test("P1 filter keeps matching table+op only") {
    val out = Processors.dmlFilter("^srcdb\\.sbtest\\d+$", Seq("insert", "delete"))(changelog)
    assert(out.select("seq").as[Long].collect().sorted.toSeq == Seq(0L, 3L))
  }

  test("P2 positional->named zips schema with arrays") {
    val df = changelog.withColumn("pos",
      array($"r_id".cast("string"), $"r_k".cast("string")))
    val out = Processors.positionalToNamed(Seq("id", "k"), "pos", "named")(df)
      .select(element_at($"named", "k")).as[String].collect()
    assert(out.toSet == Set("10", "11", "20", "30"))
  }

  test("P3 remap renames db and remaps operation") {
    val out = Processors.renameTable(Map("srcdb" -> "destdb"), Map("other" -> "dest_tab"))(
      Processors.remapOperation(Map("insert" -> "update"))(changelog))
    assert(out.filter($"op" === "insert").count() == 0)
    assert(out.filter($"tbl" === "dest_tab").count() == 1)
    assert(out.filter($"db" === "srcdb").count() == 0)
  }

  test("P4 name catcher extracts logical table; non-matching -> empty") {
    val out = Processors.nameCatcher("^([a-z]+)\\d+$")(changelog)
    val got = out.select("tbl", "logical_table").as[(String, String)].collect().toMap
    assert(got("sbtest1") == "sbtest" && got("other") == "")
  }

  test("P6 value map does dictionary lookup with null for missing") {
    val out = Processors.valueMap(Map("sbtest1" -> "t1"), "tbl", "topic")(changelog)
    val got = out.select("tbl", "topic").collect()
      .map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("sbtest1").contains("t1") && got("other").isEmpty)
  }

  test("P7 json round trip preserves fields") {
    val sel = changelog.select("seq", "pk", "op", "r_k")
    val back = Processors.unmarshal("json", sel.schema)(
      Processors.marshal("json")(sel).select("json"))
    assert(back.orderBy("seq").collect().toSeq == sel.orderBy("seq").collect().toSeq)
  }

  test("canonical ChangeEvent round-trips through the typed encoder") {
    import graft.model.ChangeEvent
    val canonical = graft.source.Changelog.toCanonical(
      graft.source.Changelog.fromEventsDf(
        graft.source.Changelog.events(spark, sf)))
    val typed = canonical.as[ChangeEvent]
    val e = typed.filter(_.operation == "update").head()
    assert(e.new_row != null && e.old_row != null)
    assert(e.new_row.keySet == Set("id", "k", "v"))
    assert(e.id.startsWith("uuid."))
    val del = typed.filter(_.operation == "delete").head()
    assert(del.new_row == null && del.old_row != null)
    val ins = typed.filter(_.operation == "insert").head()
    assert(ins.old_row == null && ins.new_row != null)
  }

  test("K3 checker classifies row_miss and row_diff") {
    val src = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0)).toDF("pk", "s", "v")
    val tgt = Seq((1L, "a", 1.0), (3L, "c", 9.0)).toDF("pk", "s", "v")
    val got = Checker.check(src, tgt, Seq("pk")).as[(Long, String)].collect().toMap
    assert(got == Map(2L -> "row_miss", 3L -> "row_diff"))
  }

  test("K4 kafka projection emits key/value/topic") {
    val out = Sinks.kafkaProjection(
      changelog.withColumn("topic", lit("t")), "pk", "topic")
    assert(out.columns.toSeq == Seq("key", "value", "topic"))
    assert(out.filter($"value".contains("\"op\":\"insert\"")).count() == 2)
  }

  test("kafka wire round trip: K4 projection -> envelope -> S3 decode") {
    import graft.source.{Changelog, Connectors}
    // the full loop the reference runs over a broker (db_kafka ->
    // kafka_db configs): project the changelog to the (key, value,
    // topic) contract, simulate the broker's envelope (partition by key
    // hash — Kafka's default partitioner contract — plus offsets), and
    // decode back through the S3 input path
    val flat = Changelog.fromEvents(spark, sf)
      .withColumn("topic", org.apache.spark.sql.functions.concat(lit("t_"), $"tbl"))
    val wire = Sinks.kafkaProjection(flat, "pk", "topic")
    val env = wire
      .withColumn("partition", pmod(xxhash64($"key"), lit(4)).cast("int"))
      .withColumn("offset", xxhash64($"value")) // any unique id works
    val back = Connectors.decodeKafka(env, flat.schema)
    val cols = Seq("seq", "pk", "tbl", "op", "r_id", "r_k", "r_v")
    assert(back.count() == flat.count())
    assert(back.selectExpr(cols: _*).exceptAll(flat.selectExpr(cols: _*)).count() == 0)
    assert(flat.selectExpr(cols: _*).exceptAll(back.selectExpr(cols: _*)).count() == 0)
    // per-key ordering contract: one key always lands in one partition
    assert(back.groupBy("pk").agg(countDistinct($"partition").as("n"))
      .filter($"n" > 1).count() == 0)
  }

  test("SqlGen emits idempotent statements") {
    assert(SqlGen.insertIgnore("t", Seq("id", "c"), Seq(Seq(1, "x"), Seq(2, null))) ==
      "INSERT IGNORE INTO `t` (`id`,`c`) VALUES (1,'x'),(2,NULL)")
    assert(SqlGen.update("t", Seq("id"), Map("id" -> 1, "c" -> null)) ==
      "UPDATE `t` SET `c`=DEFAULT(`c`) WHERE `id`=1")
    assert(SqlGen.deleteIn("t", "id", Seq(1, 2)) ==
      "DELETE FROM `t` WHERE `id` IN (1,2)")
  }

  test("P3 logical indirection: first-substring replace keeps shard suffix") {
    val df = Seq(
      ("sbtest42", "sbtest"),   // prefix replace -> test42
      ("pre_sbtest7", "sbtest"),// mid-string first occurrence -> pre_test7
      ("sbtest9", "other"),     // unmapped logical -> unchanged
      ("nomatch3", "sbtest")    // logical not a substring -> unchanged
    ).toDF("tbl", "logical_table")
    val got = graft.op.Processors
      .renameTableLogical(Map("sbtest" -> "test"))(df)
      .select("tbl").as[String].collect().toSeq
    assert(got == Seq("test42", "pre_test7", "sbtest9", "nomatch3"))
  }
}
