package graft.sources

import graft.expressions.BoundLong
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Transport configuration for topic-backed tables.
  *
  * `files` (default): a topic is a directory of parquet record files
  * under `root` — readable as a Structured Streaming file source (new
  * files are discovered per trigger, the micro-batch analog of new
  * Kafka records) and testable in any environment.
  *
  * `kafka`: the real thing — `readStream.format("kafka")` /
  * `write.format("kafka")` against `bootstrapServers`. Requires the
  * spark-sql-kafka connector jars on the classpath (not bundled here);
  * both transports produce/consume the SAME record shape, so every
  * downstream decode / metadata-column / materialization path is
  * transport-agnostic.
  */
final case class TopicConf(root: String,
                           transport: String = TopicConf.Files,
                           bootstrapServers: String = "")
object TopicConf {
  val Files = "files"
  val Kafka = "kafka"
}

/** Kafka-shaped topics: the engine's record-stream layer (reference:
  * every table is a Kafka topic, `terraform/lab-tables/main.tf:98-108`,
  * read through Schema Registry with Avro values at `:173`).
  *
  * The record schema mirrors the Kafka source's projection EXACTLY —
  * (key, value, topic, partition, offset, timestamp) — so the file
  * transport is a drop-in stand-in for a broker. Two system columns
  * surface to tables from it (SURVEY.md §1.4):
  *  - `key`: the raw message key bytes, retypeable by
  *    `ALTER TABLE ... MODIFY (key STRING)` (reference S7/S8,
  *    `terraform/lab-joins/main.tf:465,498`);
  *  - `$rowtime`: the record timestamp — the default watermark column.
  */
object Topics {

  val recordSchema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType)))

  private def dirOf(conf: TopicConf, topic: String): String = s"${conf.root}/$topic"

  def ensureTopic(spark: SparkSession, conf: TopicConf, topic: String): Unit =
    if (conf.transport == TopicConf.Files)
      Fs.mkdirs(spark, dirOf(conf, topic))

  /** Unbounded scan of a topic's raw records. */
  def readStreamRecords(spark: SparkSession, topic: String, conf: TopicConf): DataFrame =
    conf.transport match {
      case TopicConf.Kafka =>
        spark.readStream.format("kafka")
          .option("kafka.bootstrap.servers", conf.bootstrapServers)
          .option("subscribe", topic)
          .option("startingOffsets", "earliest")
          .load()
          .select("key", "value", "topic", "partition", "offset", "timestamp")
      case _ =>
        ensureTopic(spark, conf, topic)
        spark.readStream.schema(recordSchema).parquet(dirOf(conf, topic))
    }

  /** Bounded scan of everything currently in a topic. On the files
    * transport the scan's file list comes from the topic's [[Manifest]]
    * each time a query over the frame is PLANNED, so one frame (and a
    * view registered over it) follows every later commit without being
    * rebuilt, and planning does not list the topic directory. */
  def readBatchRecords(spark: SparkSession, topic: String, conf: TopicConf): DataFrame =
    conf.transport match {
      case TopicConf.Kafka =>
        spark.read.format("kafka")
          .option("kafka.bootstrap.servers", conf.bootstrapServers)
          .option("subscribe", topic)
          .option("startingOffsets", "earliest")
          .option("endingOffsets", "latest")
          .load()
          .select("key", "value", "topic", "partition", "offset", "timestamp")
      case _ =>
        ensureTopic(spark, conf, topic)
        spark.baseRelationToDataFrame(HadoopFsRelation(
          new ManifestIndex(spark, dirOf(conf, topic)), StructType(Nil), recordSchema,
          None, new ParquetFileFormat, Map.empty)(spark))
    }

  /** Producer/sink side: JSON-encode typed rows into records and append
    * to the topic. A fully DISTRIBUTED write — each task writes its own
    * partition's records; nothing funnels through the driver.
    *
    * Encoding follows `graft.streaming.ChangelogSink`'s conventions:
    * with `keyCols` (upsert/compacted topics) the key is the JSON of the
    * key columns, the value the JSON of the rest, and an `__op = "-D"`
    * row becomes a tombstone (null value); without `keyCols` the whole
    * row (including any `__op` retract tag) is the value.
    *
    * `epoch` orders appends ACROSS calls: record offset packs
    * epoch·2^40 | partition·2^27 | row-in-partition, monotone per
    * partition exactly like a Kafka offset. The partition id is
    * REPACKED out of `monotonically_increasing_id` (which stores it at
    * bit 33 — left there, partition ≥128 would overflow into the next
    * epoch's bucket and invert cross-epoch order). Bounds are HARD
    * invariants, not clamps: 2^13 partitions, 2^27 rows per partition
    * per append, 2^23 epochs — exceeding one throws (a clamp would
    * alias offsets at the cap, making latest-by-offset upsert order
    * nondeterministic among the aliased records).
    *
    * The epoch's offset base and the write instant (the record
    * timestamp when no `eventTimeCol` is given; one instant for every
    * row of the write) are [[BoundLong]] references, not literals: the
    * generated code is the same for every epoch, so a micro-batch's
    * sink reuses the compiled encoder instead of recompiling it.
    */
  def appendJson(df: DataFrame, topic: String, conf: TopicConf,
                 keyCols: Seq[String], epoch: Long,
                 eventTimeCol: Option[String] = None): Unit = {
    val hasOp = df.columns.contains("__op")
    val key =
      if (keyCols.nonEmpty) to_json(struct(keyCols.map(col): _*)).cast("binary")
      else lit(null).cast("binary")
    val valueCols =
      if (keyCols.nonEmpty) df.columns.filterNot(c => keyCols.contains(c) || c == "__op")
      else df.columns
    val valueJson = to_json(struct(valueCols.map(col): _*))
    val value =
      if (hasOp && keyCols.nonEmpty)
        when(col("__op") === "-D", lit(null)).otherwise(valueJson)
      else valueJson
    require(epoch >= 0 && epoch < (1L << 23),
      s"appendJson($topic): epoch $epoch outside [0, 2^23)")
    val ts = eventTimeCol.map(c => col(c).cast("timestamp")).getOrElse(
      BoundLong.timestampMicros(DateTimeUtils.instantToMicros(java.time.Instant.now())))
    val mono = monotonically_increasing_id()
    val pid = shiftright(mono, 33)
    val row = mono.bitwiseAND(lit((1L << 33) - 1))
    val packed = BoundLong.long(epoch * (1L << 40)) + shiftleft(pid, 27) + row
    val offset = coalesce(
      assert_true(pid < lit(1L << 13) && row < lit(1L << 27),
        lit(s"appendJson($topic): offset packing overflow — " +
          "≥2^13 partitions or ≥2^27 rows in one partition in one append")).cast("long"),
      packed)
    val records = df.select(
      key.as("key"),
      value.cast("binary").as("value"),
      lit(topic).as("topic"),
      spark_partition_id().as("partition"),
      offset.as("offset"),
      ts.as("timestamp"))
    conf.transport match {
      case TopicConf.Kafka => appendRecords(records, topic, conf)
      case _ => writeEpochIdempotent(records, topic, conf, epoch)
    }
  }

  /** Append pre-encoded records (the Kafka wire frame) to a topic.
    * NOT epoch-idempotent — raw appends have no replay key; use
    * [[appendJson]] (whose epoch IS the idempotence key) from any
    * retried/checkpointed writer. */
  def appendRecords(records: DataFrame, topic: String, conf: TopicConf): Unit =
    conf.transport match {
      case TopicConf.Kafka =>
        records.select("key", "value").write.format("kafka")
          .option("kafka.bootstrap.servers", conf.bootstrapServers)
          .option("topic", topic)
          .save()
      case _ =>
        val spark = records.sparkSession
        ensureTopic(spark, conf, topic)
        records.write.mode("append").parquet(dirOf(conf, topic))
        // the commit protocol chose the file names: publish a listing
        val (fs, dir) = Fs.on(spark, dirOf(conf, topic))
        manifestOf(fs, dir).commit(fs, dir)(None)
    }

  /** Files-transport epoch write, IDEMPOTENT per (topic, epoch): a
    * replayed micro-batch (checkpointed `foreachBatch` re-delivering
    * the same batchId after a crash) OVERWRITES its epoch's records
    * instead of double-appending them — the sink-side half of
    * exactly-once for the long-running INSERT path.
    *
    * Mechanics: the distributed write lands in a HIDDEN staging dir
    * (dot-prefixed — invisible to both batch and streaming file
    * listings), then the driver deletes any previous `e<epoch>-*`
    * files and renames the staged parts to deterministic
    * `e<epoch>-p<i>` names. The renames are a per-file metadata op
    * bounded by the batch's task count — never row-scaled. A crash
    * mid-sequence leaves either stale staging (cleaned on retry) or a
    * partial epoch whose retry deletes-then-rewrites it.
    *
    * Transient-visibility contract (delete-then-rename, deliberate):
    * a BATCH reader racing a crash-retry can momentarily see the
    * retried epoch with zero/partial files — a weaker instant than
    * Kafka (which never un-publishes a committed record) that heals at
    * the commit. The trade is intentional: stable epoch file NAMES
    * mean a STREAMING reader that already consumed the first attempt
    * is not re-fed the retry (path-keyed seen-files log). The inverse
    * design (attempt-unique names, add-then-delete) would never show a
    * missing epoch to batch readers but would duplicate the epoch into
    * every downstream STREAM on each retry — a permanent error instead
    * of a transient one.
    *
    * Replay caveat (documented, inherent to file watching): a
    * downstream STREAMING reader keys its seen-files log on path, so
    * an epoch overwritten after the reader consumed it is not re-read.
    * Replayed batches recompute the same rows from the same
    * checkpointed offsets, so the overwrite is byte-stable where it
    * matters (keys, values, epoch ordering).
    *
    * The deletes and renames run under the topic's [[Manifest]] lock,
    * which then publishes the new file list in one swap: a batch
    * reader that plans during the commit waits for it, and one that
    * planned before it keeps the previous list. */
  private def writeEpochIdempotent(records: DataFrame, topic: String,
                                   conf: TopicConf, epoch: Long): Unit = {
    val spark = records.sparkSession
    val dir = dirOf(conf, topic)
    ensureTopic(spark, conf, topic)
    val staging = s"${conf.root}/.staging/$topic-e$epoch"
    records.write.mode("overwrite").parquet(staging)
    val (fs, dirPath) = Fs.on(spark, dir)
    val staged = fs.listStatus(new Path(staging))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val prefix = s"e$epoch-"
    manifestOf(fs, dirPath).commit(fs, dirPath) {
      // drop the previous attempt's files for THIS epoch only — globbed,
      // so the commit never lists the whole (epoch-count-sized) topic dir
      fs.globStatus(new Path(dir, s"$prefix*"))
        .filter(_.isFile)
        .foreach(s => fs.delete(s.getPath, false))
      val committed = staged.zipWithIndex.map { case (s, i) =>
        val name = s.getPath.getName
        val suffix = name.dropWhile(_ != '.') // keep .snappy.parquet etc.
        val dest = new Path(dir, s"${prefix}p$i$suffix")
        if (!fs.rename(s.getPath, dest))
          throw new java.io.IOException(
            s"appendJson($topic): cannot commit epoch $epoch file $name")
        fs.getFileStatus(dest)
      }
      Some((known: Vector[FileStatus]) =>
        known.filterNot(_.getPath.getName.startsWith(prefix)) ++ committed)
    }
    Fs.deleteRecursive(spark, staging)
    spark.catalog.refreshByPath(dir)
  }

  /** The committed record files of one files-transport topic directory,
    * shared by every reader and writer of the topic in this JVM — the
    * analog of a Kafka log's segment index: a read plans from it without
    * listing the directory.
    *
    * Contract:
    *  - writers in this JVM ([[writeEpochIdempotent]], [[appendRecords]],
    *    [[compact]]) run their deletes and renames through [[commit]],
    *    which publishes the resulting list in ONE swap after the last
    *    rename — no reader sees an epoch half-renamed;
    *  - the first read (or commit) of a topic in a JVM lists it once;
    *  - files this JVM did not write (another runner process on the
    *    same root, a restart, a plain `write.parquet`) are found by the
    *    directory's mtime: each published list records the mtime it
    *    matches, every [[files]] call stats the directory, and a
    *    different mtime re-lists. A stat per planned scan, never a
    *    listing. Limit: an outside write that lands in the same mtime
    *    tick as this JVM's last commit or listing is seen only at the
    *    directory's next change, and a filesystem without directory
    *    mtimes (object stores) sees outside writes never.
    *
    * Holds no thread; the lock is held only for a commit's renames or
    * a listing. */
  private final class Manifest {
    @volatile private var snap: Snapshot = _

    private def mtimeOf(fs: FileSystem, dir: Path): Long =
      try fs.getFileStatus(dir).getModificationTime
      catch { case _: java.io.FileNotFoundException => -1L }

    /** Data files as a directory scan sees them: no `_`/`.`-prefixed
      * (commit markers, checksums, staging) or empty files. */
    private def list(fs: FileSystem, dir: Path): Vector[FileStatus] =
      try fs.listStatus(dir).iterator.filter { s =>
        val n = s.getPath.getName
        s.isFile && s.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
      }.toVector.sortBy(_.getPath.getName)
      catch { case _: java.io.FileNotFoundException => Vector.empty }

    /** The topic's record files now. */
    def files(fs: FileSystem, dir: Path): Vector[FileStatus] = {
      val s = snap
      if (s != null && s.dirMtime == mtimeOf(fs, dir)) s.files
      else synchronized {
        // stat BEFORE listing: a change after the stat leaves the
        // recorded mtime behind, so the next read lists again
        val m = mtimeOf(fs, dir)
        val cur = snap
        if (cur != null && cur.dirMtime == m) cur.files
        else {
          val listed = list(fs, dir)
          snap = Snapshot(listed, m)
          listed
        }
      }
    }

    /** Run a writer's deletes and renames, then publish. `renames`
      * returns the edit that turns the list known before it into the
      * list after it, or None when only a listing can tell. A stale
      * or unhydrated list is re-listed instead of edited. */
    def commit(fs: FileSystem, dir: Path)(
        renames: => Option[Vector[FileStatus] => Vector[FileStatus]]): Unit = synchronized {
      val s = snap
      val known = if (s != null && s.dirMtime == mtimeOf(fs, dir)) Some(s.files) else None
      val edit = renames
      val m = mtimeOf(fs, dir)
      val files = known.zip(edit).map { case (k, e) => e(k) }.getOrElse(list(fs, dir))
      snap = Snapshot(files, m)
    }
  }

  /** A published file list and the directory mtime it matches. */
  private final case class Snapshot(files: Vector[FileStatus], dirMtime: Long)

  private val manifests = new java.util.concurrent.ConcurrentHashMap[String, Manifest]()

  private def manifestOf(fs: FileSystem, dir: Path): Manifest =
    manifests.computeIfAbsent(fs.makeQualified(dir).toString, _ => new Manifest)

  /** A topic directory as a file-source index: every planning asks the
    * topic's [[Manifest]] for the current files. Equal for equal
    * directories, as Spark's `InMemoryFileIndex` is, so cached plans
    * over a topic keep matching. */
  private final class ManifestIndex(spark: SparkSession, dir: String) extends FileIndex {
    private val hadoopConf = spark.sessionState.newHadoopConf()
    private val path = new Path(dir)
    private val fs = path.getFileSystem(hadoopConf)
    private val root = fs.makeQualified(path)
    private val manifest = manifestOf(fs, path)

    private def current: Vector[FileStatus] = manifest.files(fs, root)

    override def rootPaths: Seq[Path] = Seq(root)
    override def listFiles(partitionFilters: Seq[Expression],
                           dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty, current.map(FileStatusWithMetadata(_))))
    override def inputFiles: Array[String] = current.map(_.getPath.toString).toArray
    override def refresh(): Unit = () // the manifest is current by construction
    override def sizeInBytes: Long = current.map(_.getLen).sum
    override def partitionSchema: StructType = StructType(Nil)

    override def equals(other: Any): Boolean = other match {
      case o: ManifestIndex => o.root == root
      case _ => false
    }
    override def hashCode(): Int = root.hashCode
  }

  /** Decode JSON-valued records into typed table columns plus the
    * system columns: decoded key fields (when `keySchema` is given —
    * compacted-topic form), decoded value fields, raw `key` bytes,
    * `$rowtime` (record timestamp) and `__offset` (record order, the
    * upsert-materialization sort key). Tombstones (null value) must be
    * filtered by the caller BEFORE decode if unsupported downstream.
    */
  def decodeJson(records: DataFrame, valueSchema: StructType,
                 keySchema: Option[StructType] = None): DataFrame = {
    val parsed = records.select(
      keySchema.map(ks => from_json(col("key").cast("string"), ks).as("__k")).toSeq ++ Seq(
        from_json(col("value").cast("string"), valueSchema).as("__v"),
        col("key"),
        col("timestamp").as("$rowtime"),
        col("offset").as("__offset")): _*)
    parsed.select(
      keySchema.map(_ => col("__k.*")).toSeq ++ Seq(
        col("__v.*"), col("key"), col("$rowtime"), col("__offset")): _*)
  }

  /** Log compaction (files transport): rewrite a topic keeping only the
    * LATEST record per key (tombstones removed) — the
    * `cleanup.policy = compact` contract of the reference's keyed topics
    * (`terraform/lab-joins/main.tf:106,122`). Materializing an upsert
    * view costs O(log length); periodic compaction bounds that at
    * O(live keys), exactly why Kafka compacts. Offsets are preserved,
    * so materialization order is unchanged. Distributed read + write;
    * the directory swap is the only driver-side step.
    *
    * Use on KEYED (compacted) topics only: a live streaming reader sees
    * the rewritten files as new records — re-delivery of latest-per-key
    * is idempotent under upsert materialization, but would duplicate
    * rows for an append-mode consumer (exactly Kafka's rule: compaction
    * is a per-topic policy, not safe on append topics). */
  def compact(spark: SparkSession, topic: String, conf: TopicConf): Unit = {
    require(conf.transport == TopicConf.Files, "compact applies to the files transport")
    val dir = dirOf(conf, topic)
    val records = readBatchRecords(spark, topic, conf)
    // sort-free latest-per-key (max_by struct), the house upsert shape
    val latest = graft.operators.ChangelogOps
      .latestByKey(records, Seq("key"), Seq("offset"))
      .where(col("value").isNotNull) // fully-compacted: tombstones drop out
    val tmp = s"$dir.compacting"
    latest.write.mode("overwrite").parquet(tmp)
    val old = s"$dir.old"
    Fs.deleteRecursive(spark, old)
    // swap with rollback, through Hadoop FileSystem so a topic root on
    // HDFS/S3A works too; every rename result is checked — a silent
    // false return would otherwise leave a half-swapped topic. Under
    // the manifest lock, which publishes the compacted list after it.
    val (fs, dirPath) = Fs.on(spark, dir)
    manifestOf(fs, dirPath).commit(fs, dirPath) {
      if (!Fs.rename(spark, dir, old))
        throw new java.io.IOException(s"compact: cannot stage $dir aside")
      if (!Fs.rename(spark, tmp, dir)) {
        Fs.rename(spark, old, dir) // roll back to the uncompacted log
        throw new java.io.IOException(s"compact: cannot swap $tmp into place")
      }
      None
    }
    Fs.deleteRecursive(spark, old)
    spark.catalog.refreshByPath(dir)
  }

  /** Decode binary Avro-valued records (the reference's wire format —
    * `output.data.format = "AVRO"`, `terraform/lab-tables/main.tf:173`)
    * via `AvroCodec`; metadata columns as in `decodeJson`. Pass
    * `idSchemas` (e.g. `registry.idSchemas`) to also accept
    * Confluent-SR-framed records — magic byte + schema id + payload —
    * with per-record writer-schema resolution; without it every value
    * is bare Avro. */
  def decodeAvro(records: DataFrame, valueSchemaJson: String,
                 idSchemas: Map[Int, String] = Map.empty): DataFrame = {
    val carried = records.select(col("value"), col("key"),
      col("timestamp").as("$rowtime"), col("offset").as("__offset"))
    AvroCodec.decodeAvro(carried, "value", valueSchemaJson, idSchemas)
  }
}
