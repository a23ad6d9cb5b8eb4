package graft

import graft.exec.StreamingStatementRunner
import graft.sources.{AvroCodec, TopicConf, Topics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Kafka-shaped topic layer in isolation: record shape, offset
  * ordering, JSON type-fidelity round trips, compacted-topic tombstone
  * encoding, the Avro value path, and the topic manifest that batch
  * reads plan from. */
class TopicsSpec extends SparkSpec {
  import spark.implicits._

  private def freshConf() = TopicConf(tempDir("graft-topics-spec"))

  test("records carry the exact Kafka source shape; offsets are monotone per partition") {
    val conf = freshConf()
    Topics.appendJson(Seq(("a", 1), ("b", 2)).toDF("k", "n"), "t1", conf, Nil, epoch = 1)
    Topics.appendJson(Seq(("c", 3)).toDF("k", "n"), "t1", conf, Nil, epoch = 2)
    val recs = Topics.readBatchRecords(spark, "t1", conf)
    assert(recs.schema === Topics.recordSchema)
    // epoch 2 offsets sort strictly after epoch 1's, per partition
    val offs = recs.select("partition", "offset").as[(Int, Long)].collect()
    offs.groupBy(_._1).foreach { case (_, g) =>
      val sorted = g.map(_._2).sorted.toSeq
      assert(sorted.distinct === sorted, "offsets must be unique per partition")
    }
    assert(recs.where(col("offset") >= 2L * (1L << 40)).count() === 1)
  }

  test("JSON value round trip preserves int/long/double/timestamp/array types") {
    val conf = freshConf()
    val df = Seq(
      (1, 10L, 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), Seq("x", "y")))
      .toDF("i", "l", "d", "ts", "arr")
    Topics.appendJson(df, "t2", conf, Nil, 1)
    val decoded = Topics.decodeJson(
      Topics.readBatchRecords(spark, "t2", conf), df.schema)
    // from_json makes every field nullable — compare names + types
    assert(decoded.select("i", "l", "d", "ts", "arr").schema.fields.map(f => (f.name, f.dataType)).toSeq
      === df.schema.fields.map(f => (f.name, f.dataType)).toSeq)
    val row = decoded.select("i", "l", "d", "ts", "arr")
      .as[(Int, Long, Double, java.sql.Timestamp, Seq[String])].head()
    assert(row === ((1, 10L, 1.5, java.sql.Timestamp.valueOf("2024-01-02 03:04:05"), Seq("x", "y"))))
  }

  test("compacted-topic encoding: key columns in the key, -D rows become tombstones") {
    val conf = freshConf()
    val df = Seq(("k1", "v1", "+I"), ("k2", "v2", "+I"), ("k1", "ignored", "-D"))
      .toDF("id", "payload", "__op")
    Topics.appendJson(df, "t3", conf, keyCols = Seq("id"), epoch = 1)
    val recs = Topics.readBatchRecords(spark, "t3", conf)
    // tombstone = key present, value null (the compacted-topic delete)
    assert(recs.where(col("value").isNull).count() === 1)
    val tombKey = recs.where(col("value").isNull)
      .select(col("key").cast("string")).as[String].head()
    assert(tombKey.contains("\"k1\""))
    // value excludes the key column and the op tag
    val live = recs.where(col("value").isNotNull)
      .select(col("value").cast("string")).as[String].collect()
    assert(live.forall(v => v.contains("payload") && !v.contains("\"id\"") && !v.contains("__op")))
    // decode reassembles key + value fields
    val decoded = Topics.decodeJson(recs.where(col("value").isNotNull),
      StructType(Seq(StructField("payload", StringType))),
      Some(StructType(Seq(StructField("id", StringType)))))
    assert(decoded.select("id", "payload").as[(String, String)].collect().toSet
      === Set(("k1", "v1"), ("k2", "v2")))
  }

  test("compaction keeps the latest record per key, drops tombstones, preserves offsets") {
    val conf = freshConf()
    Topics.appendJson(Seq(("k1", "v1", "+I"), ("k2", "v2", "+I"))
      .toDF("id", "payload", "__op"), "tc", conf, Seq("id"), epoch = 1)
    Topics.appendJson(Seq(("k1", "v1b", "+I"), ("k3", "v3", "+I"), ("k2", "x", "-D"))
      .toDF("id", "payload", "__op"), "tc", conf, Seq("id"), epoch = 2)
    val before = Topics.readBatchRecords(spark, "tc", conf).count()
    assert(before === 5)
    Topics.compact(spark, "tc", conf)
    val after = Topics.readBatchRecords(spark, "tc", conf)
    assert(after.count() === 2) // k1 latest + k3; k2 tombstoned away
    val decoded = Topics.decodeJson(after,
      StructType(Seq(StructField("payload", StringType))),
      Some(StructType(Seq(StructField("id", StringType)))))
    assert(decoded.select("id", "payload").as[(String, String)].collect().toSet
      === Set(("k1", "v1b"), ("k3", "v3")))
    // offsets preserved: surviving k1 carries its epoch-2 offset
    assert(after.where(col("offset") >= 2L * (1L << 40)).count() === 2)
  }

  test("appendJson rejects an out-of-range epoch (offset-packing hard invariant)") {
    val conf = freshConf()
    intercept[IllegalArgumentException] {
      Topics.appendJson(Seq(("a", 1)).toDF("k", "n"), "te", conf, Nil, epoch = 1L << 23)
    }
    intercept[IllegalArgumentException] {
      Topics.appendJson(Seq(("a", 1)).toDF("k", "n"), "te", conf, Nil, epoch = -1L)
    }
  }

  test("Avro-valued records decode through the codec with metadata columns intact") {
    val conf = freshConf()
    val schemaJson =
      """{"type":"record","name":"click","fields":[
         {"name":"url","type":"string"},{"name":"dwell","type":"int"}]}"""
    // producer analog: a handful of Avro-encoded records
    val recs = Seq(
      ("u1", AvroCodec.encodeRecord(schemaJson, Map("url" -> "/home", "dwell" -> 5))),
      ("u2", AvroCodec.encodeRecord(schemaJson, Map("url" -> "/cart", "dwell" -> 9))))
      .toDF("k", "value")
      .select(col("k").cast("binary").as("key"), col("value"),
        lit("t4").as("topic"), lit(0).as("partition"),
        monotonically_increasing_id().as("offset"),
        current_timestamp().as("timestamp"))
    Topics.appendRecords(recs, "t4", conf)
    val decoded = Topics.decodeAvro(
      Topics.readBatchRecords(spark, "t4", conf), schemaJson)
    assert(decoded.columns.toSet === Set("key", "$rowtime", "__offset", "url", "dwell"))
    val rows = decoded.select(col("key").cast("string"), col("url"), col("dwell"))
      .as[(String, String, Int)].collect().toSet
    assert(rows === Set(("u1", "/home", 5), ("u2", "/cart", 9)))
  }

  test("appendJson offsets equal the epoch·2^40 | partition·2^27 | row packing (golden, epochs 0, 1, 2^22)") {
    val conf = freshConf()
    // range(0, 5) over 2 slices: n = 0, 1 in partition 0; n = 2, 3, 4 in partition 1
    val rows = spark.range(0, 5, 1, 2).toDF("n")
    val golden = Map(
      0L -> Seq(0L, 1L, 134217728L, 134217729L, 134217730L),
      1L -> Seq(1099511627776L, 1099511627777L, 1099645845504L, 1099645845505L,
        1099645845506L),
      (1L << 22) -> Seq(4611686018427387904L, 4611686018427387905L,
        4611686018561605632L, 4611686018561605633L, 4611686018561605634L))
    golden.keys.foreach(e => Topics.appendJson(rows, "tg", conf, Nil, epoch = e))
    val recs = Topics.decodeJson(Topics.readBatchRecords(spark, "tg", conf),
      StructType(Seq(StructField("n", LongType))))
    golden.foreach { case (e, offsets) =>
      val lo = e << 40
      val got = recs.where(col("__offset") >= lo && col("__offset") < lo + (1L << 40))
        .select("n", "__offset").as[(Long, Long)].collect().sortBy(_._1).map(_._2).toSeq
      assert(got === offsets, s"epoch $e offsets")
      // one write, one instant: every row of the epoch carries the same timestamp
      assert(Topics.readBatchRecords(spark, "tg", conf)
        .where(col("offset") >= lo && col("offset") < lo + (1L << 40))
        .select("timestamp").distinct().count() === 1, s"epoch $e timestamps")
    }
  }

  test("manifest: a frame built once sees every later committed epoch") {
    val conf = freshConf()
    val recs = Topics.readBatchRecords(spark, "m1", conf)
    assert(recs.count() === 0)
    (1 to 3).foreach { e =>
      Topics.appendJson(Seq(("a", e)).toDF("k", "n"), "m1", conf, Nil, epoch = e)
      assert(recs.count() === e, s"after epoch $e")
    }
  }

  private def recordFiles(conf: TopicConf, topic: String): Set[String] =
    new java.io.File(s"${conf.root}/$topic").listFiles().map(_.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSet

  private def planned(recs: org.apache.spark.sql.DataFrame): Set[String] =
    recs.inputFiles.map(f => new org.apache.hadoop.fs.Path(f).getName).toSet

  test("manifest: a crash-retried epoch replaces the first attempt's files (delete, then rename)") {
    val conf = freshConf()
    val recs = Topics.readBatchRecords(spark, "m2", conf)
    // the first attempt writes epoch 1 from several partitions …
    Topics.appendJson(Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "n")
      .repartition(2), "m2", conf, Nil, epoch = 1)
    Topics.appendJson(Seq(("e", 5)).toDF("k", "n"), "m2", conf, Nil, epoch = 2)
    assert(planned(recs).count(_.startsWith("e1-")) === 2)
    // … the retry recomputes it into one: the stale e1-p1 must go too
    Topics.appendJson(Seq(("a", 1), ("b", 2), ("c", 3), ("d", 4)).toDF("k", "n")
      .coalesce(1), "m2", conf, Nil, epoch = 1)
    assert(recs.count() === 5)
    assert(planned(recs) === recordFiles(conf, "m2"))
    assert(planned(recs).count(_.startsWith("e1-")) === 1)
  }

  test("manifest: a compact swap publishes the compacted files to an existing frame") {
    val conf = freshConf()
    val recs = Topics.readBatchRecords(spark, "m3", conf)
    Topics.appendJson(Seq(("k1", "v1", "+I"), ("k2", "v2", "+I"))
      .toDF("id", "payload", "__op"), "m3", conf, Seq("id"), epoch = 1)
    Topics.appendJson(Seq(("k1", "v1b", "+I"), ("k2", "x", "-D"))
      .toDF("id", "payload", "__op"), "m3", conf, Seq("id"), epoch = 2)
    assert(recs.count() === 4)
    Topics.compact(spark, "m3", conf)
    assert(recs.count() === 1)
    assert(planned(recs) === recordFiles(conf, "m3"))
    Topics.appendJson(Seq(("k3", "v3", "+I")).toDF("id", "payload", "__op"),
      "m3", conf, Seq("id"), epoch = 3)
    assert(recs.count() === 2)
  }

  test("manifest: a plain write.parquet into the topic directory is picked up") {
    val conf = freshConf()
    Topics.appendJson(Seq(("a", 1)).toDF("k", "n"), "m4", conf, Nil, epoch = 1)
    Topics.appendJson(Seq(("b", 2), ("c", 3)).toDF("k", "n"), "m4src", conf, Nil, epoch = 1)
    val recs = Topics.readBatchRecords(spark, "m4", conf)
    assert(recs.count() === 1)
    // a writer that does not go through Topics (another process, a tool)
    Topics.readBatchRecords(spark, "m4src", conf)
      .write.mode("append").parquet(s"${conf.root}/m4")
    assert(recs.count() === 3)
    assert(planned(recs) === recordFiles(conf, "m4"))
  }

  private val kv = StructType(Seq(StructField("k", StringType), StructField("n", IntegerType)))

  test("manifest: a second runner on the same root follows the first's commits; a restart hydrates through CREATE TABLE") {
    val conf = freshConf()
    val script = "CREATE TABLE mf_out (k STRING, n INT); INSERT INTO mf_out SELECT k, n FROM mf_src"
    val first = new StreamingStatementRunner(spark, topicConf = Some(conf))
    first.registerTopicSource("mf_src", kv)
    first.runScript(script)
    Topics.appendJson(Seq(("a", 1)).toDF("k", "n"), "mf_src", conf, Nil, epoch = 1)
    first.processAllAvailable()
    // a second runner, in a session of its own, registers the table once
    val other = spark.newSession()
    val second = new StreamingStatementRunner(other, topicConf = Some(conf))
    second.run("CREATE TABLE mf_out (k STRING, n INT)")
    assert(other.table("mf_out").count() === 1)
    Topics.appendJson(Seq(("b", 2)).toDF("k", "n"), "mf_src", conf, Nil, epoch = 2)
    first.processAllAvailable()
    assert(other.table("mf_out").count() === 2, "the second runner's view must follow the first's sink")
    first.stopAll()
    // restart on the same root: CREATE TABLE hydrates before any new input
    val restarted = new StreamingStatementRunner(spark, topicConf = Some(conf))
    restarted.registerTopicSource("mf_src", kv)
    restarted.runScript(script)
    try {
      assert(spark.table("mf_out").as[(String, Int)].collect().toSet === Set(("a", 1), ("b", 2)))
      Topics.appendJson(Seq(("c", 3)).toDF("k", "n"), "mf_src", conf, Nil, epoch = 3)
      restarted.processAllAvailable()
      assert(spark.table("mf_out").as[(String, Int)].collect().toSet ===
        Set(("a", 1), ("b", 2), ("c", 3)))
      assert(spark.table("mf_out").count() === 3, "a restart must resume, not replay")
    } finally restarted.stopAll()
  }

  test("manifest: a view shadowed by withViewShadow is restored and then kept across commits") {
    val conf = freshConf()
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    r.registerTopicSource("sh_src", kv)
    // the promoted INSERT shadows sh_a with its changelog stream while it starts
    r.runScript("""
      CREATE TABLE sh_a (k STRING, n INT, PRIMARY KEY (k) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO sh_a SELECT k, n FROM sh_src;
      CREATE TABLE sh_b (k STRING, doubled INT);
      INSERT INTO sh_b SELECT k, n * 2 FROM sh_a""")
    try {
      assert(!spark.table("sh_a").isStreaming, "the shadow must be restored to the table's state")
      Topics.appendJson(Seq(("a", 1), ("b", 2)).toDF("k", "n"), "sh_src", conf, Nil, epoch = 1)
      r.processAllAvailable()
      val entry = spark.sessionState.catalog.getRawTempView("sh_a")
      assert(entry.isDefined)
      Topics.appendJson(Seq(("a", 3)).toDF("k", "n"), "sh_src", conf, Nil, epoch = 2)
      r.processAllAvailable()
      assert(spark.table("sh_a").as[(String, Int)].collect().toMap === Map("a" -> 3, "b" -> 2))
      assert(spark.sessionState.catalog.getRawTempView("sh_a").get eq entry.get,
        "an unchanged view must not be registered again per micro-batch")
      assert(spark.table("sh_b").as[(String, Int)].collect().sorted.toSeq ===
        Seq(("a", 2), ("a", 6), ("b", 4)))
    } finally r.stopAll()
  }
}
