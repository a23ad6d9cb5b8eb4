package graft

import graft.sources.{AvroCodec, TopicConf, Topics}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The Kafka-shaped topic layer in isolation: record shape, offset
  * ordering, JSON type-fidelity round trips, compacted-topic tombstone
  * encoding, and the Avro value path. */
class TopicsSpec extends SparkSpec {
  import spark.implicits._

  private def freshConf() = TopicConf(graft.sources.Fs.tempDirDeletedAtExit("graft-topics-spec"))

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
}
