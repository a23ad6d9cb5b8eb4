package graft

import graft.functions.{PiiScrub, TextAnalysis}
import graft.operators.{ChangelogOps, CorpusStats, Curation, Dedup, Multimodal, Sampling, Similarity, SkewOps}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver contract — one entry per implemented operator from SURVEY.md §2
  * (+ the large-scale training-data-pipeline operators), each with a
  * DuckDB-runnable oracle where the semantics are ANSI-SQL-expressible.
  *
  * Determinism conventions (so Spark parquet output hash-matches the
  * DuckDB oracle):
  *  - timestamps are emitted as epoch MICROS bigints (`unix_micros` /
  *    `epoch_us`) — sidesteps parquet logical-type/timezone skew;
  *  - aggregated doubles go through DECIMAL(18,4) (exact, order-
  *    independent summation) and are emitted as doubles;
  *  - cosine similarities are rounded to 6 decimals (both engines
  *    compute double-precision cosine; last-ulp accumulation-order
  *    noise is far below 1e-6);
  *  - every ranking has a unique-id tiebreak.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Exact order-independent sum of a double column via decimal. */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** One runner gate as a value: a statement script
    * replayed through [[exec.StreamingStatementRunner]] over topic feeds
    * in event-time epochs, then folded to the rows the oracle gates.
    * A gate declares only what differs between gates:
    *  - `topics`: its topic sources, each with its value schema (DDL);
    *  - `script`: the statements;
    *  - `clock` + `epochs`: the frame whose `ts_us` range is cut into
    *    `epochs` equal-width slices ([[Epochs]]);
    *  - `feeds`: each epoch's feeds in arrival order, as topic → frame
    *    pairs (the outer function sees the bounds once, so a feed
    *    derived across all epochs is built once);
    *  - `fold`: what the gate returns once drained;
    *  - `afterDrain`: a check run after every drain, given the runner
    *    and a drain label `e<i>-<topic>`;
    *  - `restartAfter`: kill the runner after that many epochs and
    *    resume a NEW one on the same topics + checkpoints (q224).
    * [[runGate]] owns everything else. */
  private[graft] final case class RunnerGate(
      topics: Seq[(String, String)],
      script: String,
      clock: DataFrame,
      epochs: Int,
      feeds: Epochs => Int => Seq[(String, DataFrame)],
      fold: GateFold,
      afterDrain: (exec.StreamingStatementRunner, String) => Unit = (_, _) => (),
      restartAfter: Option[Int] = None)

  /** The clock's `ts_us` range cut into equal-width epochs — integer
    * bounds every gate's oracle re-derives the same way. */
  private[graft] final case class Epochs(lo: Long, width: Long) {
    def slice(df: DataFrame, i: Int): DataFrame =
      df.where(col("ts_us") >= lo + i * width && col("ts_us") < lo + (i + 1) * width)
  }

  /** What a drained gate returns: a column projection of its target
    * table, or the net multiset of a retract target (+1 per add, −1
    * per `-`-tagged record, rows whose net is 1). Neither form joins,
    * so a runner gate's returned plan is join-free by construction. */
  private[graft] sealed trait GateFold { def apply(s: SparkSession): DataFrame }
  private[graft] final case class Project(table: String, cols: Column*) extends GateFold {
    def apply(s: SparkSession): DataFrame = s.table(table).select(cols: _*)
  }
  private[graft] final case class RetractNet(table: String, cols: String*) extends GateFold {
    def apply(s: SparkSession): DataFrame = s.table(table)
      .groupBy(cols.map(col): _*)
      .agg(sum(when(col("__op").startsWith("-"), -1L).otherwise(1L)).as("__n"))
      .where(col("__n") === 1L)
      .select(cols.map(col): _*)
  }

  /** The one harness every runner gate goes through. It owns the temp
    * topic root, the narrowed state width while the script starts its
    * queries ([[graft.streaming.StreamReplay.withNarrowState]]), runner
    * construction, epoch slicing, feed numbering (the run's k-th feed
    * is written as topic epoch k, so with f feeds per epoch, epoch i's
    * feeds are f·i+1..f·i+f), a drain after every feed, and the
    * runners' lifetime: `stopAll()` runs even when
    * a feed or an after-drain check throws, so a failed gate leaves no
    * INSERT polling its topics through the rest of a Verify/Bench
    * session. */
  private[graft] def runGate(s: SparkSession, name: String, g: RunnerGate): DataFrame = {
    import graft.sources.{Fs, TopicConf, Topics}
    // the returned frame reads the topic files lazily: the dir outlives the call
    val conf = TopicConf(Fs.tempDirDeletedAtExit(s"graft-$name"))
    var r: exec.StreamingStatementRunner = null
    def start(): Unit = {
      r = new exec.StreamingStatementRunner(s, topicConf = Some(conf))
      graft.streaming.StreamReplay.withNarrowState(s) {
        g.topics.foreach { case (topic, ddl) =>
          r.registerTopicSource(topic, org.apache.spark.sql.types.StructType.fromDDL(ddl))
        }
        r.runScript(g.script)
      }
    }
    try {
      start()
      val bounds = g.clock.agg(min("ts_us"), max("ts_us")).collect().head
      val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
      val feeds = g.feeds(Epochs(lo, math.max(1L, (hi - lo) / g.epochs + 1)))
      var seq = 0L
      (0 until g.epochs).foreach { i =>
        if (g.restartAfter.contains(i)) { r.stopAll(); start() } // the "crash"
        feeds(i).foreach { case (topic, df) =>
          seq += 1
          Topics.appendJson(df, topic, conf, Nil, seq)
          r.processAllAvailable()
          g.afterDrain(r, s"e$i-$topic")
        }
      }
    } finally if (r != null) r.stopAll()
    g.fold(s)
  }

  /** The events fixture with micros time as `ts_us`. Micros ride as
    * BIGINT: to_json's timestamp format is millisecond-truncating,
    * which would silently shift latest-by orderings off the oracle's.
    * `quarter` keeps user_id % 4 = 0: most gates exercise cross-batch
    * state, not JSON-encode throughput, and the full-corpus encode
    * quadrupled a gate's cost for zero extra coverage. */
  private def events(s: SparkSession, dir: String, quarter: Boolean = true): DataFrame = {
    val ev = t(s, dir, "events")
    (if (quarter) ev.where(pmod(col("user_id"), lit(4)) === 0) else ev)
      .withColumn("ts_us", unix_micros(col("ts")))
  }

  /** Each user's latest row among `df`'s by (ts_us, event_id), projected
    * to `cols`. Folding an upsert feed per epoch this way gives at most
    * one revision per key per epoch, so arrival order is deterministic
    * and the revision chain telescopes to the batch latest-per-key
    * row. */
  private def latestPerUser(df: DataFrame, cols: String*): DataFrame =
    df.groupBy("user_id")
      .agg(max_by(struct(cols.map(col): _*), struct(col("ts_us"), col("event_id"))).as("__l"))
      .select(col("user_id") +: cols.map(c => col(s"__l.$c")): _*)

  /** One upsert feed: each epoch's [[latestPerUser]] rows of `ev`. */
  private def upsertFeed(topic: String, ev: DataFrame, cols: String*)
      : Epochs => Int => Seq[(String, DataFrame)] =
    e => i => Seq(topic -> latestPerUser(e.slice(ev, i), cols: _*))

  /** The S1 feed schema and its folded columns. */
  private val EventDdl = "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT"
  private val EventCols = Seq("event_id", "event_type", "value", "ts_us")

  /** The three-input regular-join feeds of q245/q247/q250/q251, each
    * epoch in this order: the epoch's facts, then per-user dim
    * revisions (users % 8 = 0 only), then per-type band labels
    * ('click' never gets one). Facts arrive BEFORE their dims, so they
    * pad (or join stale dims) and the dim revisions then retract and
    * upgrade them. */
  private def bandJoinFeeds(ev: DataFrame, q: String, label: Int => Column)
      : Epochs => Int => Seq[(String, DataFrame)] = e => i => {
    val slice = e.slice(ev, i)
    Seq(
      s"orders_feed_$q" -> slice.select("event_id", "user_id", "value"),
      s"dim_feed_$q" -> latestPerUser(slice.where(pmod(col("user_id"), lit(8)) === 0),
        "event_type"),
      s"band_feed_$q" -> slice.where(col("event_type") =!= "click")
        .select("event_type").distinct().withColumn("label", label(i)))
  }

  /** q202's S1 upsert pipeline, shared by q202/q224/q225: events ride
    * a JSON topic feed in 4 event-time epochs (each epoch pre-folded
    * to its latest row per key) through CREATE TABLE with PRIMARY KEY
    * + a long-running INSERT; the final state equals the batch
    * latest-per-key oracle (q05's SQL). `chained`: a SECOND statement
    * consumes the FIRST one's table — no streaming source in its FROM,
    * so the runner PROMOTES user_latest to its changelog stream (every
    * per-epoch upsert revision flows as one record into the append
    * table). */
  private def s1Upsert(s: SparkSession, dir: String, q: String,
                       restartAfter: Option[Int] = None,
                       chained: Boolean = false): RunnerGate = {
    val (feed, target, chain) = (s"events_feed_$q", s"user_latest_$q", s"user_changelog_$q")
    val ev = events(s, dir, quarter = false)
    val chainDdl = if (!chained) "" else s""";
        CREATE TABLE $chain (
          user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
          last_value DOUBLE, ts_us BIGINT);
        INSERT INTO $chain
        SELECT user_id, last_event_id, last_event_type, last_value, ts_us
        FROM $target"""
    RunnerGate(Seq(feed -> EventDdl), s"""
        CREATE TABLE $target (
          user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
          last_value DOUBLE, ts_us BIGINT,
          PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO $target
        SELECT user_id, event_id, event_type, value, ts_us FROM $feed$chainDdl""",
      ev, epochs = 4, upsertFeed(feed, ev, EventCols: _*),
      Project(if (chained) chain else target, col("user_id"), col("last_event_id"),
        col("last_event_type"), col("last_value"), col("ts_us")),
      restartAfter = restartAfter)
  }

  /** Shared persisted-LSH pair source for every pair-CONSUMING
    * analysis (graph family q175/q176/q177/q178/q182; cluster
    * analyses q64/q109/q112/q122/q157/q181; q123's candidate leg):
    * the q19 pair list read from the write-once bucketed index
    * (q158's layout) instead of re-hashing the corpus per query — the
    * production amortization where one index build feeds every
    * downstream analysis. q19/q47/q68/q158 keep their from-scratch
    * paths: they ARE the sketch/label/build operators under test.
    * Built at most once per (session, dir); the pair SET is identical
    * to `minHashLshPairs` by the pigeonhole equivalence (q158's
    * oracle is the q19 SQL), so every consumer's oracle is
    * unchanged. */
  /** Collision-proof table-name tag for a dataset dir: md5 hex (16
    * nibbles = 64 bits), not 32-bit String.hashCode — two dirs with
    * colliding hashCodes in one session would be memoized separately
    * yet read/write the SAME catalog table, silently cross-wiring
    * corpora. */
  private def dirTag(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString.take(16)

  private val lshIdxMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[graft] def sharedLshIndexTable(s: SparkSession, dir: String): String =
    lshIdxMemo.getOrElseUpdate((s, dir), {
      val tbl = "lsh_idx_shared_" + dirTag(dir)
      Dedup.buildLshIndex(t(s, dir, "documents"), "doc_id", "text", tbl,
        shingleN = 3, numHashes = 64, bands = 16)
      tbl
    })
  private[graft] def sharedDupPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.lshPairsIndexed(s, sharedLshIndexTable(s, dir), "doc_id",
      numHashes = 64, minJaccard = 0.8)

  /** The MATERIALIZED cluster map — one step past [[sharedDupPairs]]
    * in the production amortization chain: index → pairs → cluster
    * labels, each written once per corpus version. The CC-star labels
    * are a deterministic function of the pair set (min reachable id),
    * so reading the table is value-identical to re-running the
    * clustering — every consumer's oracle (componentsSql) is
    * unchanged. Analyses that CONSUME clustering (q64/q109/q112/q122/
    * q182) read this; q47/q68 keep their from-scratch paths (they ARE
    * the clustering operators under test). Stored bucketed on doc_id
    * so the id-keyed join back to doc rows is exchange-free on the
    * label side. */
  private val clusterTblMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), String]
  private[graft] def sharedClusterTable(s: SparkSession, dir: String): String =
    clusterTblMemo.getOrElseUpdate((s, dir), {
      val tbl = "dup_clusters_shared_" + dirTag(dir)
      operators.Bucketing.writeBucketedMulti(
        Dedup.connectedComponentsStar(sharedDupPairs(s, dir)),
        tbl, Seq("doc_id"), 32)
      tbl
    })
  private[graft] def sharedDupClusters(s: SparkSession, dir: String): DataFrame =
    s.table(sharedClusterTable(s, dir))

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_enrich_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Map[String, (SparkSession, String) => DataFrame](

    // ── aggregation (SURVEY §2.3 group-by agg; lab-aggregations) ──
    // Money math is done in DECIMAL end-to-end: the base columns are
    // 2-dp values (tie-free double→decimal casts), products/sums are
    // then exact and order-independent — bit-identical to the oracle.
    "q01_pricing_agg" -> ((s, dir) => {
      val ep = col("l_extendedprice").cast("decimal(12,2)")
      val disc1 = lit(1) - col("l_discount").cast("decimal(4,2)")
      val tax1 = lit(1) + col("l_tax").cast("decimal(4,2)")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          sum(ep * disc1).cast("double").as("sum_disc_price"),
          sum(ep * disc1 * tax1).cast("double").as("sum_charge"),
          count(lit(1)).as("count_order"))
    }),

    // ── filter + projection, pushed to the parquet scan (SURVEY §2.3) ──
    "q02_filter_project" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24.0)
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * col("l_discount")).as("disc_revenue"))
    }),

    // ── multi-way INNER equi-join w/ broadcast dims (SURVEY §2.2 S6) ──
    "q03_enrich_join" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      val n = broadcast(t(s, dir, "nation"))
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(n, c("c_nationkey") === n("n_nationkey"))
        .select(col("o_orderkey"), col("o_totalprice"), col("c_name"), col("n_name"))
    }),

    // ── join + agg + deterministic top-k (SURVEY §2.3 Top-N) ──
    // aggregation is pushed BELOW the join (all aggregated columns come
    // from lineitem): 4 lineitem rows/order collapse to 1 before the
    // join, a rewrite Catalyst does not perform itself — at 100 TB this
    // shrinks the join's shuffled side by the fan-out factor
    "q04_revenue_topn" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val perOrder = li.groupBy(col("l_orderkey"))
        .agg(sum(col("l_extendedprice").cast("decimal(12,2)")
          * (lit(1) - col("l_discount").cast("decimal(4,2)")))
          .cast("double").as("revenue"))
      // top-k BELOW the join: revenue is a lineitem-only aggregate and
      // every l_orderkey has an orders row (TPC-H FK), so the top-10 set
      // is join-invariant — take it first (TakeOrderedAndProject over
      // the agg, partition-local heads + one merge), then join TEN rows
      // to orders instead of the full aggregate. Same tiebreak key both
      // sides of the limit keeps the boundary deterministic.
      val top = perOrder
        .orderBy(desc("revenue"), asc("l_orderkey"))
        .limit(10)
      broadcast(top).join(o, top("l_orderkey") === o("o_orderkey"))
        .select(col("o_orderkey"), unix_micros(col("o_orderdate")).as("o_orderdate_us"),
          col("revenue"))
        .orderBy(desc("revenue"), asc("o_orderkey"))
    }),

    // ── upsert materialization: latest row per key (SURVEY §2.2 S1/S3) ──
    "q05_upsert_latest" -> ((s, dir) => {
      ChangelogOps.latestByKey(t(s, dir, "events"),
          keys = Seq("user_id"), orderBy = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"),
          unix_micros(col("ts")).as("ts_us"))
    }),

    // ── dedup first-row-per-key (SURVEY §2.3 dedup) ──
    "q06_dedup_first" -> ((s, dir) => {
      ChangelogOps.firstByKey(t(s, dir, "events"),
          keys = Seq("user_id", "event_type"), orderBy = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"),
          col("event_id").as("first_event_id"), unix_micros(col("ts")).as("first_ts_us"))
    }),

    // ── event-time tumbling window (SURVEY §2.3 TUMBLE; lab-time) ──
    "q07_window_tumble" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("event_type"), col("n_events"), col("sum_value"))
    }),

    // ── event-time hopping window (SURVEY §2.3 HOP; lab-time) ──
    "q08_window_hop" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(unix_micros(col("window.start")).as("window_start_us"),
          col("n_events"), col("sum_value"))
    }),

    // ── event-time session window, 30 min gap (SURVEY §2.3 SESSION) ──
    "q09_session_window" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          unix_micros(col("session_window.end")).as("session_end_us"),
          col("n_events"), col("sum_value"))
    }),

    // ── event-time cumulate window: 2h max, 30min step (SURVEY §2.3) ──
    "q35_window_cumulate" -> ((s, dir) => {
      graft.operators.WindowOps.cumulate(t(s, dir, "events"), "ts",
          maxSizeMicros = 7200000000L, stepMicros = 1800000000L)
        .groupBy(col("window_start_us"), col("window_end_us"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    }),

    // ── Top-N per group via ranking window (SURVEY §2.3) ──
    "q10_topn_per_group" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"), col("o_totalprice"))
    }),

    // ── interval join: purchase ↔ clicks in preceding hour (SURVEY §2.3) ──
    "q11_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
      p.join(c, Seq("user_id"))
        .where(col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
          col("c_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("click_id"), col("user_id"))
    }),

    // ── as-of (temporal) join: latest view at-or-before each purchase ──
    "q12_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
          when(col("event_type") === "view", col("event_id")).as("view_id"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("is_p"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("is_p"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
      ev.withColumn("matched_view_id", last(col("view_id"), ignoreNulls = true).over(w))
        .where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          unix_micros(col("ts")).as("ts_us"), col("matched_view_id"))
    }),

    // ── retract-changelog materialization (SURVEY §2.2 S5) ──
    "q13_retract_net" -> ((s, dir) => {
      val changelog = t(s, dir, "events")
        .where(col("event_type").isin("click", "error"))
        .withColumn("op", when(col("event_type") === "click", 1).otherwise(-1))
      ChangelogOps.materializeRetract(changelog, opCol = "op",
        keys = Seq("user_id"), valueCols = Seq("value"))
    }),

    // ── text analysis: token statistics ──
    "q14_token_stats" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        size(array_distinct(TextAnalysis.tokens(col("text")))).as("n_distinct_tokens"),
        TextAnalysis.stopwordCount(col("text")).as("n_stopwords"),
        TextAnalysis.regexTokenCount(col("text")).as("n_subword_tokens"),
        length(col("text")).as("n_chars_raw"))
    }),

    // ── text analysis: quality scoring ──
    "q15_quality_score" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    }),

    // ── text analysis: n-gram-heuristic language ID ──
    "q16_lang_id" -> ((s, dir) => {
      t(s, dir, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("pred_lang"),
        (TextAnalysis.langId(col("text")) === col("lang")).as("is_match"))
    }),

    // ── exact dedup on content fingerprint (md5) ──
    "q17_dedup_exact" -> ((s, dir) =>
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")),

    // ── near-dup: word-3-gram Jaccard via inverted-index join, with
    //    the document-frequency skew cap engaged: a ubiquitous shingle
    //    (stopword run) would otherwise build a quadratic hot posting
    //    list at scale ──
    "q18_ngram_dedup" -> ((s, dir) =>
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minJaccard = 0.8, maxShingleFreq = Some(1000))),

    // ── near-dup: MinHash+LSH. md5-derived portable signatures → the
    //    DuckDB oracle reproduces them bit-for-bit; with minJaccard 0.8
    //    > 1 - bands/numHashes the banded-bucket output is exactly the
    //    ≥0.8-signature-agreement pairs, engine-independent ──
    "q19_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)),

    // ── near-dup: SimHash 64-bit fingerprint (md5-derived token hash,
    //    bit-identical in the DuckDB oracle) ──
    "q20_simhash" -> ((s, dir) =>
      Dedup.simHash64(t(s, dir, "documents"), "doc_id", "text")),

    // ── document fingerprinting: winnowing (rolling k-gram window-min,
    //    Schleimer '03) — one codegen pass per doc; md5-derived 48-bit
    //    gram hashes make the selected-min VALUE SET engine-portable ──
    "q40_winnow_fingerprint" -> ((s, dir) =>
      Dedup.winnowFingerprints(t(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 8)),

    // ── benchmark decontamination: docs (corpus = doc_id%10≠0) scored
    //    by the fraction of their 3-grams leaking from a reference set
    //    (doc_id%10=0) — one membership join on gram hashes, linear ──
    "q41_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.decontaminationScores(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, threshold = 0.5)
    }),

    // ── similarity search: exact brute-force cosine top-k ──
    "q21_knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.bruteForceKnn(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── similarity search: LSH-bucketed ANN. Signatures are integer-
    //    quantized sign-random-projections from md5-seeded ±1 planes —
    //    fully order-independent and engine-portable, so the DuckDB
    //    oracle reproduces the exact candidate set and ranking (recall
    //    vs bruteForceKnn additionally asserted in SimilaritySpec) ──
    "q22_knn_lsh" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.lshKnn(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, dim = 64, nBits = 8, numTables = 8)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── similarity search: IVF cluster-probed ANN. The centroid sample
    //    is keyed on md5-hex string order (engine-portable), so the
    //    DuckDB oracle rebuilds the same index and probes — full
    //    output equality, not just recall (also in SimilaritySpec) ──
    "q39_knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfKnn(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nCentroids = 16, nProbe = 6)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── embedding-cosine near-duplicate pairs: LSH candidate buckets +
    //    exact-cosine verification — the 100 TB shape (equi-join on
    //    buckets, never the O(n²) cross product). Portable signatures →
    //    the oracle reproduces the same candidates, so this is exact-
    //    checked, not rows-only ──
    "q23_embedding_neardup" -> ((s, dir) => {
      Similarity.lshNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, dim = 64, nBits = 8, numTables = 8)
        .select(col("id_a"), col("id_b"), round(col("cos_sim"), 6).as("cos_sim"))
    }),

    // ── set operations (SURVEY §2.4) ──
    "q24_setops" -> ((s, dir) => {
      val c = t(s, dir, "customer").select(col("c_custkey"))
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      c.intersect(o).select(lit("both").as("tag"), col("c_custkey"))
        .unionAll(c.except(o).select(lit("no_orders").as("tag"), col("c_custkey")))
    }),

    // ── grouping sets / rollup (SURVEY §2.4) ──
    "q25_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }),

    // ── scalar functions: string/date/math/conditional (SURVEY §2.4) ──
    "q26_scalar_funcs" -> ((s, dir) => {
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"),
        year(col("l_shipdate")).as("ship_year"),
        month(col("l_shipdate")).as("ship_month"),
        concat(col("l_returnflag"), lit("-"), col("l_linestatus")).as("flag_status"),
        upper(col("l_returnflag")).as("flag_upper"),
        abs(col("l_extendedprice") - col("l_quantity") * 1000.0).as("price_gap"),
        when(col("l_quantity") > 25.0, "big").otherwise("small").as("size_class"))
    }),

    // ── anti join / NOT EXISTS (SURVEY §2.4 joins): customers with no
    //    urgent orders (filtered so the result is non-empty at every sf) ──
    "q27_anti_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),

    // ── distinct aggregation (SURVEY §2.3) ──
    "q28_distinct_agg" -> ((s, dir) => {
      t(s, dir, "orders").groupBy(col("o_custkey"))
        .agg(countDistinct(col("o_orderpriority")).as("n_priorities"),
          countDistinct(col("o_orderstatus")).as("n_statuses"),
          count(lit(1)).as("n_orders"))
    }),

    // ── analytic window functions: rank / lag / running sum (SURVEY §2.4) ──
    "q29_window_analytics" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        rank().over(Window.partitionBy("o_custkey")
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))).as("price_rank"),
        lag(col("o_orderkey"), 1).over(w).as("prev_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,4)"))
          .over(w.rowsBetween(Window.unboundedPreceding, 0))
          .cast("double").as("running_total"))
    }),

    // ── multimodal: opaque binary column + typed metadata ──
    "q30_binary_meta" -> ((s, dir) => {
      t(s, dir, "documents")
        .withColumn("content", col("text").cast("binary"))
        .select(col("doc_id"),
          octet_length(col("content")).as("n_bytes"),
          hex(substring(col("text"), 1, 8).cast("binary")).as("head_hex"))
    }),

    // ── JSON scalar functions over the events props column (§2.4).
    //    ONE from_json pass with a typed schema — get_json_object is a
    //    per-call path evaluation and re-parses per extracted field ──
    "q32_json_extract" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k INT"))
            .getField("k").as("prop_k"))
        .where(col("prop_k") >= 50)
    }),

    // ── left outer join + conditional count (§2.4 joins) ──
    "q33_outer_join" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("total_spend"))
    }),

    // ── cube grouping sets (§2.4) ──
    "q34_cube" -> ((s, dir) => {
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,4)")).cast("double").as("sum_price"))
    }),

    // ── array functions over the embedding column (§2.4 scalar/array) ──
    "q36_array_funcs" -> ((s, dir) => {
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).as("n_dims"),
        round(element_at(col("embedding"), 1).cast("double"), 6).as("first_dim"),
        round(aggregate(col("embedding"),
          lit(0.0), (acc, v) => acc + v.cast("double")), 6).as("vec_sum"),
        round(array_max(col("embedding")).cast("double"), 6).as("vec_max"))
    }),

    // ── pivot: per-user event-type counts as columns (§2.4) ──
    "q37_pivot" -> ((s, dir) => {
      t(s, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .count()
        // scope the fill to the pivot counts: an unscoped fill would
        // rewrite a NULL group key and diverge from the oracle
        .na.fill(0L, Seq("click", "view", "purchase", "signup", "error"))
        .withColumnsRenamed(Map("click" -> "n_click", "view" -> "n_view",
          "purchase" -> "n_purchase", "signup" -> "n_signup", "error" -> "n_error"))
    }),

    // ── correlated-subquery pattern: orders above their customer's avg
    //    (decorrelated to a window — the scalable plan shape) (§2.4) ──
    "q38_above_avg" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
      t(s, dir, "orders")
        .withColumn("cust_avg",
          sum(col("o_totalprice").cast("decimal(18,4)")).over(w).cast("double")
            / count(lit(1)).over(w))
        .where(col("o_totalprice") > col("cust_avg"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("cust_avg"))
    }),

    // ── multimodal: stubbed decode + feature extraction over binary
    //    payloads via mapPartitions. The query emits the integer
    //    histogram counts (exploded to scalar columns) rather than the
    //    normalized float vector so every cell is oracle-hashable;
    //    the float path is covered by MultimodalSpec. ──
    "q31_media_features" -> ((s, dir) => {
      val media = Multimodal.asMedia(t(s, dir, "documents"), "doc_id", "text")
      val hist = Multimodal.byteHistogram(media).toDF()
      hist.select(col("id") +: col("n_bytes") +:
        (0 until 16).map(i => element_at(col("counts"), i + 1).as(f"bin_$i%02d")): _*)
    }),

    // ── quality signal: within-doc repetition (duplicated-bigram
    //    fraction — boilerplate/spam marker). Pure per-row scan op:
    //    the one-pass GramHashes kernel counts distinct bigrams, no
    //    explode, no shuffle (hash-distinct ≈ string-distinct at the
    //    documented ~2⁻⁶⁴ collision odds, as in q18) ──
    "q46_repetition" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("__toks"))
        .where(size(col("__toks")) >= 2)
        .select(col("doc_id"),
          (size(col("__toks")) - 1).as("n_grams"),
          size(graft.expressions.HashExpressions.gramHashes(col("__toks"), 2))
            .as("n_distinct_grams"))
        .withColumn("repetition_ratio",
          round(lit(1.0) - col("n_distinct_grams").cast("double")
            / col("n_grams").cast("double"), 6))),

    // ── corpus vocabulary: top-50 heavy-hitter tokens. (token, doc)
    //    pre-agg de-skews hot stopword keys; top-k is
    //    TakeOrderedAndProject, never a global sort ──
    "q42_heavy_hitters" -> ((s, dir) =>
      CorpusStats.heavyHitterTokens(t(s, dir, "documents"), "doc_id", "text", k = 50)),

    // ── TF-IDF: top-5 terms per doc; N in-plan, tf⋈df token-shuffle
    //    join, rank on the ROUNDED score with token tiebreak ──
    "q43_tfidf" -> ((s, dir) =>
      CorpusStats.tfIdf(t(s, dir, "documents"), "doc_id", "text", topPerDoc = 5)),

    // ── deterministic content-hash sampling: md5-bucket < 10 of 100 —
    //    engine-portable (exact oracle), partitioning-independent, the
    //    train/holdout split primitive ──
    "q44_hash_sample" -> ((s, dir) =>
      Sampling.portableSample(t(s, dir, "documents"), "doc_id", keep = 10)
        .select("doc_id", "lang", "source", "n_chars", "bucket")),

    // ── exact token-count quantiles per language — distributed-sort
    //    interpolation, NOT Spark's buffering percentile aggregate ──
    "q45_token_quantiles" -> ((s, dir) =>
      CorpusStats.tokenQuantiles(t(s, dir, "documents"), "lang", "text")
        .select("lang", "n_docs", "total_tokens", "avg_tokens",
          "p50_tokens", "p90_tokens", "p99_tokens")),

    // ── near-dup CLUSTERS: q19's LSH pairs → connected components.
    //    useStar=false pins the MIN-LABEL variant here (O(diameter)
    //    rounds of sparse join + combinable min) so both CC algorithms
    //    stay query-covered: q68 runs alternating-stars on the same
    //    graph, and dedupClusters' production DEFAULT is star (q64) ──
    "q47_dedup_clusters" -> ((s, dir) =>
      Dedup.dedupClusters(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        useStar = false)),

    // ── fingerprint-overlap near-dup pairs (MOSS): inverted index on
    //    winnowing fingerprints, broadcast-anti-join hot-fp cap — finds
    //    copied PASSAGES whole-doc Jaccard misses ──
    "q48_fingerprint_overlap" -> ((s, dir) =>
      Dedup.fingerprintOverlapPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 4, w = 8, minShared = 2, maxFpFreq = Some(100))),

    // ── deterministic Lloyd k-means (2 iterations): per-row codegen L2
    //    argmin assignment, one (cluster, dim)-key shuffle per update,
    //    6-dp-rounded means so the replay is engine-portable ──
    "q49_kmeans_refine" -> ((s, dir) =>
      Similarity.kmeansRefine(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 2)),

    // ── stratified corpus rebalancing: per-language keep rates over the
    //    portable md5 bucket — stateless per-row filter, no shuffle ──
    "q50_stratified_sample" -> ((s, dir) =>
      Sampling.stratifiedPortableSample(t(s, dir, "documents"), "doc_id", "lang",
          rates = Map("en" -> 10, "zh" -> 80), defaultKeep = 30)
        .select("doc_id", "lang", "source", "bucket")),

    // ── per-doc curation verdict: the multi-signal keep/drop funnel
    //    (length → repetition → quality → language), all signals from
    //    one per-row scan — zero shuffles, zero joins ──
    "q51_curation_funnel" -> ((s, dir) =>
      Curation.funnel(t(s, dir, "documents"), "doc_id", "text", "lang")),

    // ── KMV distinct sketch: per-lang distinct-bigram estimate from a
    //    mergeable 64-value bottom-k buffer — O(k) state, and because
    //    the hashes are md5-48 the ESTIMATE itself is oracle-exact ──
    "q52_kmv_distinct" -> ((s, dir) =>
      CorpusStats.kmvDistinctGrams(t(s, dir, "documents"), "lang", "text",
        n = 2, k = 64)),

    // ── salted two-phase aggregation: the manual hot-key guard (AQE
    //    can't re-plan streaming state) — decimal partials make the
    //    two-phase result bit-equal to the one-phase oracle ──
    "q53_salted_agg" -> ((s, dir) =>
      SkewOps.saltedAggregate(t(s, dir, "lineitem"),
          keys = Seq("l_returnflag"),
          valueCols = Seq("l_quantity", "l_extendedprice"),
          salts = 16, saltSource = col("l_orderkey"))
        .select("l_returnflag", "n", "sum_l_quantity", "sum_l_extendedprice")),

    // ── per-language deterministic holdout: the 5 content-keyed picks
    //    per group (md5-hex order) — exact per-group eval-set carving ──
    "q54_group_holdout" -> ((s, dir) =>
      Sampling.groupHoldout(t(s, dir, "documents"), "doc_id", "lang", k = 5)
        .select("doc_id", "lang", "source", "n_chars", "holdout_rank")),

    // ── per-label embedding profile: centroid norm + mean vector norm —
    //    the class-drift/collapse diagnostics, one corpus read ──
    "q55_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroidStats(t(s, dir, "embeddings"), "label",
        "embedding", "vec_id")),

    // ── SemDeDup (Abbas et al. 2023): k-means-scoped semantic dedup —
    //    near-dup pairs only WITHIN a cluster (Σ n_c², never n²); the
    //    deterministic k-means replay makes even the cluster partition
    //    oracle-exact ──
    "q56_semdedup" -> ((s, dir) =>
      Similarity.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, iters = 1, threshold = 0.35)),

    // ── token-budget domain mixing: cap every source at a token budget
    //    via portable md5 buckets — ONE corpus scan into a
    //    (domain, bucket) pre-agg, all integer arithmetic ──
    "q57_token_budget_mix" -> ((s, dir) =>
      Sampling.tokenBudgetMix(t(s, dir, "documents"), "doc_id", "source",
        graft.functions.TextAnalysis.tokenCount(col("text")),
        budgetTokens = 800)
        .withColumnRenamed("domain", "source")),

    // ── count-min sketch: d×w mergeable frequency summary built from
    //    the vocab aggregate; md5-derived bucket hashes make the
    //    APPROXIMATE estimates oracle-exact (est ≥ exact always) ──
    "q58_cms_estimates" -> ((s, dir) =>
      CorpusStats.cmsTokenEstimates(t(s, dir, "documents"), "doc_id", "text",
        d = 3, w = 16, topK = 30)),

    // ── char-entropy quality signal: codepoint histogram + Shannon
    //    entropy in ONE codegen pass per doc — zero shuffles ──
    "q59_char_entropy" -> ((s, dir) =>
      t(s, dir, "documents")
        .withColumn("__cs", graft.functions.TextAnalysis.charStats(col("text")))
        .select(col("doc_id"),
          col("__cs.n_chars").as("n_chars"),
          col("__cs.n_unique").as("n_unique"),
          round(col("__cs.entropy"), 6).as("entropy"))),

    // ── ANN recall@k eval: LSH hits vs exact brute-force ground truth
    //    on a query sample — both legs deterministic, so the EVAL
    //    itself is oracle-exact ──
    "q60_ann_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.annRecallAtK(emb, emb.where(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, dim = 64, nBits = 8, numTables = 8)
    }),

    // ── inter-doc duplicate-gram fraction: corpus-recurrent span
    //    detector (Lee et al. 2022 statistics) — df agg + join back on
    //    the gram hash, nothing pairwise ever materializes ──
    "q61_interdup_grams" -> ((s, dir) =>
      Dedup.interDocGramStats(t(s, dir, "documents"), "doc_id", "text", n = 5)),

    // ── Bloom-filter decontamination: the broadcast side is bounded by
    //    m bits no matter how big the reference suite — false positives
    //    observable (and oracle-exact) via the exact-hit contrast ──
    "q62_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.bloomDecontaminationScores(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text", n = 3, m = 16384, k = 3)
    }),

    // ── per-dimension embedding profile: mean/std/min/max per position,
    //    ONE map-combinable dim-key shuffle — dead/skewed-dim detector ──
    "q63_embedding_dimstats" -> ((s, dir) =>
      Similarity.embeddingDimStats(t(s, dir, "embeddings"), "embedding")),

    // ── materialized dedup: corpus ∖ non-representative cluster members
    //    via ONE anti-join on the id — doc rows never enter clustering ──
    "q64_dedup_materialize" -> ((s, dir) =>
      Dedup.dedupedCorpus(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
          clustersIn = Some(sharedDupClusters(s, dir)))
        .select("doc_id", "lang", "source", "n_chars")),

    // ── document chunking: fixed-size token windows with overlap —
    //    pure per-row explosion, integer chunk boundaries, zero
    //    shuffles (the context-window packing step) ──
    "q65_chunking" -> ((s, dir) =>
      operators.Chunking.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkTokens = 32, overlap = 8)),

    // ── tumbling-window dedup: first event per (user, type, 30-min
    //    window) + suppressed count — ONE min_by(struct) aggregation,
    //    no rank window (streaming twin: dropDuplicatesWithinWatermark) ──
    "q66_window_dedup" -> ((s, dir) =>
      operators.WindowOps.windowedDedupFirst(t(s, dir, "events"),
        tsCol = "ts", tieCol = "event_id", keys = Seq("user_id", "event_type"),
        windowMicros = 1800000000L, valueCols = Seq("value"))),

    // ── mean unigram log-prob per doc: the LM-free perplexity proxy —
    //    vocab agg + token-key join, total computed in-plan ──
    "q67_unigram_logprob" -> ((s, dir) =>
      CorpusStats.unigramLogProb(t(s, dir, "documents"), "doc_id", "text")),

    // ── alternating-stars connected components (Kiveris et al. SoCC'14):
    //    the O(log n)-round path for high-diameter graphs — must label
    //    the q19 pair graph IDENTICALLY to q47's min-propagation ──
    "q68_components_star" -> ((s, dir) =>
      Dedup.connectedComponentsStar(
        Dedup.minHashLshPairs(t(s, dir, "documents"), "doc_id", "text",
          shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8))),

    // ── sampled quantile estimation: the exact quantile machinery over
    //    the 30/100 content-keyed sample vs the full corpus — the
    //    profile-on-a-sample pattern with engine-exact error ──
    "q69_sampled_quantiles" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val exact = CorpusStats.tokenQuantiles(docs, "lang", "text")
        .select(col("lang"), col("n_docs"), col("p50_tokens"), col("p90_tokens"))
      val est = CorpusStats.tokenQuantiles(
          Sampling.portableSample(docs, "doc_id", keep = 30), "lang", "text")
        .select(col("lang"), col("n_docs").as("n_docs_sample"),
          col("p50_tokens").as("p50_est"), col("p90_tokens").as("p90_est"))
      exact.join(est, "lang")
    }),

    // ── greedy sequence packing: per-source concat-and-slice into
    //    1024-token sequences — one window sort per domain over
    //    (id, n_tokens) only, all integer arithmetic ──
    "q70_sequence_packing" -> ((s, dir) =>
      operators.Chunking.packSequences(t(s, dir, "documents"), "doc_id", "source",
        graft.functions.TextAnalysis.tokenCount(col("text")), seqTokens = 1024)),

    // ── idf-weighted gram-cosine pairs: the WEIGHTED lexical near-dup
    //    path (rare shared grams outweigh common ones) — inverted-index
    //    join on gram hashes, broadcast anti-join hot-gram cap ──
    "q71_idf_cosine_pairs" -> ((s, dir) =>
      CorpusStats.idfGramCosinePairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minCosine = 0.2, maxGramDf = 100)),

    // ── BM25 full-text ranking: query terms filter-pushed into the tf
    //    aggregate, N/avgdl in-plan, top-k via TakeOrderedAndProject ──
    "q72_bm25_search" -> ((s, dir) =>
      CorpusStats.bm25Search(t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("vector", "merge", "stream", "window"), k = 20)),

    // ── hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    //    top-50 and the exact dense top-50 (doc_id ↔ vec_id aligned
    //    corpus) — calibration-free fusion of two retrievers ──
    "q73_hybrid_rrf" -> ((s, dir) => {
      val lex = CorpusStats.bm25Search(t(s, dir, "documents"), "doc_id", "text",
          queryTerms = Seq("vector", "merge", "stream", "window"), k = 50)
        .select(col("doc_id"), col("rank"))
      val emb = t(s, dir, "embeddings")
      val dense = Similarity.bruteForceKnn(emb, emb.where(col("vec_id") === 0),
          "vec_id", "embedding", k = 50)
        .select(col("neighbor_id").as("doc_id"), col("rank"))
      CorpusStats.rrfFuse(lex, dense, "doc_id", k = 20)
    }),

    // ── conversion funnel: first click → purchase within 1h — two
    //    filtered pre-aggregations meeting in one user-key equi-join ──
    "q74_conversion" -> ((s, dir) =>
      operators.WindowOps.conversionWithin(t(s, dir, "events"),
        "user_id", "event_type", "ts", fromType = "click", toType = "purchase",
        withinMicros = 3600000000L)),

    // ── split-leakage audit: holdout grams ∩ train grams via a SHUFFLE
    //    equi-join (train is corpus-sized — q41's broadcast is the
    //    wrong shape here); holdout = q44's bucket < 10 ──
    "q76_split_leakage" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the holdout predicate MUST be the sampler's own bucket
      // expression (Sampling.md5Bucket) — an inlined copy could drift
      // from the q44/q50/q57 sample and silently audit the wrong split
      Dedup.splitLeakageScores(docs, "doc_id", "text",
        holdoutPred = operators.Sampling.md5Bucket("doc_id", 100) < 10, n = 3)
    }),

    // ── per-lang quality percentile: percent_rank normalization of the
    //    heuristic quality score — one window per language ──
    "q77_quality_percentile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "documents")
        .withColumn("quality",
          round(graft.functions.TextAnalysis.qualityScore(col("text")), 6))
        .withColumn("q_pctile", round(percent_rank().over(
          Window.partitionBy("lang").orderBy(col("quality"), col("doc_id"))), 6))
        .select("doc_id", "lang", "quality", "q_pctile")
    }),

    // ── Gopher quality rules: per-rule boolean flags + keep — pure
    //    per-row Column arithmetic riding the scan, zero shuffles ──
    "q78_gopher_rules" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.gopherRules(col("text"), minWords = 50).as("__r"))
        .select(col("doc_id"), col("__r.r_words").as("r_words"),
          col("__r.r_mean_len").as("r_mean_len"), col("__r.r_stop").as("r_stop"),
          col("__r.r_alpha").as("r_alpha"), col("__r.r_rep").as("r_rep"),
          col("__r.keep").as("keep"))),

    // ── PII scrub: detection counts + redacted text, patterns from the
    //    Java∩RE2 regex subset so the oracle reproduces the redaction
    //    byte-for-byte (fixture has no PII — the planted-PII redaction
    //    path is exercised by PiiScrubSpec's in-engine oracle) ──
    "q79_pii_redact" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), PiiScrub.piiCounts(col("text")).as("__c"),
          PiiScrub.redact(col("text")).as("redacted"))
        .select(col("doc_id"), col("__c.n_email").as("n_email"),
          col("__c.n_ipv4").as("n_ipv4"), col("__c.n_ssn").as("n_ssn"),
          col("__c.n_phone").as("n_phone"), col("redacted"))),

    // ── gram novelty vs the corpus prefix: one min-agg on the gram
    //    hash + one hash-key join back — NO doc pairs (q61's shape
    //    with first-seen attribution) ──
    "q80_gram_novelty" -> ((s, dir) =>
      Dedup.gramNovelty(t(s, dir, "documents"), "doc_id", "text", n = 3)),

    // ── corpus data card per (source, lang): every stat algebraic in
    //    ONE combinable shuffle; quality mass summed in exact integer
    //    micro-units (derived-double→decimal is the known tie trap) ──
    "q81_corpus_card" -> ((s, dir) =>
      operators.CorpusStats.corpusCard(t(s, dir, "documents"), "doc_id", "text",
        groupCols = Seq("source", "lang"))),

    // ── hashed-feature linear classifier: codegen kernel sums the
    //    pseudo-weight table in exact INTEGER units per row — one
    //    double divide at the end, zero shuffles, rides the scan ──
    "q82_hash_classifier" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), TextAnalysis.hashedClassifier(col("text")).as("__c"))
        .select(col("doc_id"), col("__c.n_tokens").cast("long").as("n_tokens"),
          col("__c.w_sum").as("w_sum"), col("__c.logit").as("logit"),
          col("__c.label").as("label"))),

    // ── α=0.5 temperature mixture weights per domain: one combinable
    //    shuffle to |domains| rows + broadcast 1-row totals; √ snapped
    //    to integer micro-units BEFORE the cross-domain Σ ──
    "q83_domain_mixture" -> ((s, dir) =>
      Sampling.domainMixture(t(s, dir, "documents"), "source",
        TextAnalysis.tokenCount(col("text")))),

    // ── fixed-block duplicate-text fraction: non-overlapping 10-token
    //    blocks, duplicates COUNTED (passage granularity, q61's shape:
    //    count-agg on block hash + join back, no doc pairs) ──
    "q84_chunk_dup" -> ((s, dir) =>
      Dedup.chunkDupStats(t(s, dir, "documents"), "doc_id", "text", k = 10)),

    // ── quality-proportional sampling: keep iff md5 bucket < quality
    //    micro-units — both sides integers, a stateless filter riding
    //    the scan (the q44/q57 portable-bucket contract, rate=quality) ──
    "q85_quality_sample" -> ((s, dir) =>
      Sampling.qualityProportionalSample(t(s, dir, "documents"), "doc_id",
        TextAnalysis.qualityMicro(col("text")))
        .select("doc_id", "lang", "source", "q_micro", "bucket")),

    // ── PSI drift between the two halves of the event time range:
    //    map-combined scan → |categories| rows; bounds/totals are
    //    broadcast 1-row aggregates computed IN the plan ──
    "q86_psi_drift" -> ((s, dir) =>
      operators.Drift.psiDrift(t(s, dir, "events"), "event_type", "ts")),

    // ── PQ ADC search: corpus compressed to 8 codebook indices per
    //    vector, queries broadcast their m×ks lookup tables — the ADC
    //    scan is m table lookups per candidate, corpus never shuffles ──
    "q87_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqAdcSearch(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, m = 8, ks = 16)
    }),

    // ── cross-source contamination matrix: distinct (source, gram)
    //    self-join — pair volume bounded by |sources|²·grams, never
    //    docs²; the provenance check run BEFORE doc-level dedup ──
    "q89_source_overlap" -> ((s, dir) =>
      CorpusStats.sourceOverlapMatrix(t(s, dir, "documents"), "source", "text", n = 3)),

    // ── KMV-sketch source overlap: q89's estimator form — the
    //    pairwise pass reads |sources|·k sketch rows, NOT the corpus;
    //    deterministic sketch ⇒ even the estimation error is exact ──
    "q90_kmv_source_overlap" -> ((s, dir) =>
      CorpusStats.kmvSourceOverlap(t(s, dir, "documents"), "source", "text",
        n = 3, k = 64)),

    // ── cluster-vs-label purity: q49's deterministic k-means +
    //    one (cluster,label) combinable cross-tab; majority tiebreaks
    //    on the smallest label, purity via integer half-up micro ──
    "q92_cluster_purity" -> ((s, dir) =>
      Similarity.clusterLabelPurity(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", k = 8, iters = 2)),

    // ── numeric profile card: exact fixed-point moments + integral
    //    bin assignment (no float boundary two engines could bracket
    //    differently); bounds broadcast, ONE ≤bins-group shuffle ──
    "q91_numeric_profile" -> ((s, dir) =>
      operators.Profiling.numericProfile(t(s, dir, "orders"), "o_totalprice",
        bins = 20)),

    // ── top-V vocabulary coverage curve: one combinable vocab shuffle,
    //    limit BEFORE the rank window, Σn from the vocab agg (no second
    //    scan); coverage via integer half-up micro ──
    "q93_vocab_coverage" -> ((s, dir) =>
      CorpusStats.vocabCoverage(t(s, dir, "documents"), "doc_id", "text",
        topV = 50)),

    // ── adjacent-bigram PMI collocations: two combinable count
    //    shuffles; the top-K frame broadcasts into the unigram lookups
    //    (vocab never broadcast); fixed-order ln fold, rounded 6 dp ──
    "q94_pmi_bigrams" -> ((s, dir) =>
      CorpusStats.pmiBigrams(t(s, dir, "documents"), "doc_id", "text",
        minCount = 5, topK = 30)),

    // ── Zipf rank-frequency OLS over the top-R vocab: rank-ordered
    //    array fold (q59's ordered-fold pattern) so the double sums are
    //    order-identical on both engines ──
    "q95_zipf_fit" -> ((s, dir) =>
      CorpusStats.zipfFit(t(s, dir, "documents"), "doc_id", "text",
        topR = 100)),

    // ── perplexity-band gate: q67's logprob scored against [p10, p90]
    //    interpolated-quantile bounds from the 20/100 portable sample —
    //    bounds broadcast back, sort only over the sample ──
    "q96_ppl_band" -> ((s, dir) =>
      CorpusStats.logprobBandGate(t(s, dir, "documents"), "doc_id", "text",
        pLo = 0.10, pHi = 0.90, sampleKeep = 20)),

    // ── UniMax epoch-capped budget mix: water-filling closed form over
    //    the per-lang token aggregate — prefix-sum windows on a
    //    catalog-sized frame, all-integer allocations ──
    "q97_epoch_mix" -> ((s, dir) =>
      Sampling.epochCappedMix(t(s, dir, "documents"), "lang", "text",
        budgetTokens = 3000000L, maxEpochs = 3)),

    // ── add-one bigram LM fluency score: cached bigram stream feeds
    //    the count agg AND the join back; (a,b)- and a-keyed combinable
    //    shuffles; V broadcast as a 1-row aggregate ──
    "q98_bigram_lm" -> ((s, dir) =>
      CorpusStats.bigramLogProb(t(s, dir, "documents"), "doc_id", "text")),

    // ── Matryoshka dim-ablation recall: prefix-d cosine top-k vs the
    //    full-dim truth — queries broadcast, one corpus stream per
    //    ablation point, exact-integer hit counts ──
    "q99_dim_ablation" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.dimAblationRecall(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 5, dims = Seq(16, 32, 64))
    }),

    // ── END-TO-END curation manifest: per-row funnel ∧ near-dup
    //    cluster survival ∧ token-budget bucket — every gate's verdict
    //    per doc in one frame; budget table broadcasts, drop set is
    //    id-keyed ──
    "q102_pipeline_manifest" -> ((s, dir) =>
      operators.Curation.pipelineManifest(t(s, dir, "documents"),
        "doc_id", "text", "lang", "source", budgetTokens = 800L)),

    // ── exact duplicated-substring stats (ExactSubstr, Lee et al.
    //    2022): covered sliding-gram start positions → interval union —
    //    df-agg + join back (no pairs), per-doc island windows ──
    "q101_exact_substr" -> ((s, dir) =>
      Dedup.exactSubstrStats(t(s, dir, "documents"), "doc_id", "text", k = 10)),

    // ── incremental ingest dedup: the 30/100-bucket "new batch" gated
    //    against the 70/100 "accepted corpus" — fingerprint semi-join
    //    (old side corpus-sized, never broadcast) + asymmetric
    //    LSH-index probe with signature-agreement verify ──
    "q100_incremental_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b = operators.Sampling.md5Bucket("doc_id", 100)
      Dedup.incrementalNearDup(docs.where(b >= 70), docs.where(b < 70),
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
        minJaccard = 0.8)
    }),

    // ── DSIR importance weights: hashed-unigram target-vs-raw log
    //    ratio, λ snapped to integer micro-units on the B-row bucket
    //    frame (broadcast back) — per-doc Σ is exact-integer ──
    "q103_dsir_weights" -> ((s, dir) =>
      CorpusStats.dsirWeights(t(s, dir, "documents"), "doc_id", "text",
        targetPred = col("source").isin("src0", "src1"), buckets = 1024)),

    // ── within-source boilerplate grams: per-(source, gram) df vs
    //    source size (relative threshold), per-doc boilerplate
    //    fraction in half-up micro-units ──
    "q104_boilerplate" -> ((s, dir) =>
      Dedup.boilerplateGrams(t(s, dir, "documents"), "doc_id", "source",
        "text", n = 2, minFracNum = 1, minFracDen = 5, minDf = 2)),

    // ── Efraimidis–Spirakis weighted sample w/o replacement: per-row
    //    ln(u)/w key off the portable md5 uniform, TakeOrdered top-k
    //    (never a global sort), rank window on ≤k rows ──
    "q105_weighted_sample" -> ((s, dir) =>
      Sampling.weightedSampleTopK(t(s, dir, "documents"), "doc_id",
        col("n_chars"), k = 100)),

    // ── hard-negative mining: brute kNN shape + label-inequality fused
    //    into the broadcast join; neighbor label carried for triplet
    //    assembly ──
    "q106_hard_negatives" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("neighbor_label"), round(col("sim"), 6).as("cos_sim"))
    }),

    // ── per-group E-S weighted sample: one spillable window per
    //    group, WindowGroupLimit prunes to k before the exchange ──
    "q107_group_weighted_sample" -> ((s, dir) =>
      Sampling.weightedGroupSample(t(s, dir, "documents"), "doc_id",
        "source", col("n_chars"), k = 5)),

    // ── per-source JS divergence vs the corpus mix: one shuffle onto
    //    ≤|sources|·B groups; term snap on the tiny frame, integer Σ ──
    "q108_source_js_divergence" -> ((s, dir) =>
      CorpusStats.sourceJsDivergence(t(s, dir, "documents"), "source",
        "text", buckets = 1024)),

    // ── leakage-safe split: near-dup CLUSTER representative keys the
    //    split bucket, so a doc and its near-dups land together ──
    "q109_leakage_safe_split" -> ((s, dir) =>
      Sampling.leakageSafeSplit(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        holdoutKeep = 10, clustersIn = Some(sharedDupClusters(s, dir)))),

    // ── per-source winsorization: q45's interpolated percentile
    //    bounds, catalog-sized bounds broadcast back onto the ranked
    //    stream — one scan, one group-keyed shuffle ──
    "q110_winsorize" -> ((s, dir) =>
      operators.Profiling.winsorize(t(s, dir, "documents"), "doc_id",
        "source", col("n_chars"), pLo = 0.05, pHi = 0.95)),

    // ── eval-side span contamination: train's distinct-gram index
    //    semi-joined by eval positional grams, q101's interval union
    //    per eval doc ──
    "q111_eval_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b = Sampling.md5Bucket("doc_id", 100)
      Dedup.evalSpanContamination(docs.where(b < 80), docs.where(b >= 80),
        "doc_id", "text", k = 10)
    }),

    // ── dup-cluster size histogram: the q47 label frame aggregated to
    //    ≤max-size groups; singleton row from two 1-row broadcasts ──
    "q112_dup_cluster_stats" -> ((s, dir) =>
      Dedup.dupClusterStats(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        clustersIn = Some(sharedDupClusters(s, dir)))),

    // ── Heaps-law vocab growth: one cached tokenize → two combinable
    //    shuffles; everything after is ≤parts-row algebra ──
    "q113_heaps_fit" -> ((s, dir) =>
      CorpusStats.heapsFit(t(s, dir, "documents"), "doc_id", "text",
        parts = 10)),

    // ── label-noise audit: q92's contingency path per VECTOR; the
    //    k-row majority frame broadcasts back onto the cached
    //    assignment⋈label frame ──
    "q114_label_noise" -> ((s, dir) =>
      Similarity.labelNoiseAudit(t(s, dir, "embeddings"), "vec_id",
        "embedding", "label", k = 8, iters = 2)),

    // ── k-anonymity: one combinable shuffle onto the QI domain ──
    "q115_k_anonymity" -> ((s, dir) =>
      operators.Profiling.kAnonymityProfile(t(s, dir, "documents"), k = 5,
        col("lang"), col("source"),
        graft.expressions.HashExpressions.intDiv(col("n_chars"), lit(500L))
          .as("chars_bin"))
        .select(col("lang"), col("source"), col("chars_bin"),
          col("n_rows"), col("at_risk"))),

    // ── JL sign projection: per-row codegen kernel riding the scan —
    //    integer quant units portable, no join/shuffle anywhere ──
    "q116_jl_project" -> ((s, dir) =>
      Similarity.jlProject(t(s, dir, "embeddings"), "vec_id", "embedding",
        dim = 64, outDim = 16)),

    // ── mutual-kNN graph: LSH-bucketed candidates ranked both ways on
    //    the ROUNDED cosine; mutuality = one swapped-key equi-join ──
    "q117_mutual_knn" -> ((s, dir) =>
      Similarity.mutualKnnGraph(t(s, dir, "embeddings"), "vec_id",
        "embedding", k = 10, dim = 64)),

    // ── int8 quantization profile: two scans of the exploded frame,
    //    dim-stats broadcast back — all error math in exact BIGINT
    //    quant units, one terminal √ ──
    "q118_int8_quant" -> ((s, dir) =>
      Similarity.int8QuantProfile(t(s, dir, "embeddings"), "embedding")),

    // ── classifier calibration: two codegen kernels on one scan →
    //    10-row combinable agg; every stat an exact half-up micro
    //    intDiv — zero doubles ──
    "q119_calibration" -> ((s, dir) =>
      operators.Curation.calibrationBins(t(s, dir, "documents"), "doc_id",
        "text")),

    // ── TextRank keywords: edge stream broadcast-filtered to the
    //    top-vocab BEFORE the edge count; 5 integral PageRank rounds
    //    over a corpus-size-independent ≤vocab² edge frame ──
    "q120_textrank" -> ((s, dir) =>
      CorpusStats.textRank(t(s, dir, "documents"), "doc_id", "text",
        vocab = 100, iters = 5)),

    // ── token concentration: one combinable shuffle to |lang×source|
    //    rows, lang-partitioned window on those few rows; Gini in
    //    exact half-up micro units (DECIMAL headroom for the ·1e6) ──
    "q121_token_gini" -> ((s, dir) =>
      CorpusStats.tokenConcentration(t(s, dir, "documents"), "text")),

    // ── token fertility: one combinable shuffle to |langs| rows;
    //    exact integer ratios in half-up micro ──
    "q129_token_fertility" -> ((s, dir) =>
      CorpusStats.tokenFertility(t(s, dir, "documents"), "text")),

    // ── log-length moments: ln snapped to micro BEFORE the sums (the
    //    q83 √-snap rule); one combinable shuffle to |sources| rows ──
    "q130_log_length" -> ((s, dir) =>
      CorpusStats.logLengthMoments(t(s, dir, "documents"), "text")),

    // ── global shuffle ordinal: two-phase permutation — per-shard
    //    rank windows + a |shards|-row offset frame; no global sort ──
    "q131_global_shuffle" -> ((s, dir) =>
      Sampling.globalShuffleOrdinal(t(s, dir, "documents"), "doc_id", shards = 32)),

    // ── bigram conditional entropy: one bigram explode, c_a derived
    //    from the (source,a,b) frame; exact integer ln-micro sums ──
    "q132_bigram_entropy" -> ((s, dir) =>
      CorpusStats.bigramCondEntropy(t(s, dir, "documents"), "text")),

    // ── embedding outlier audit: 1-row integer moments broadcast
    //    back; flags are exact integer comparisons ──
    "q133_embedding_outliers" -> ((s, dir) =>
      Similarity.embeddingOutlierProfile(t(s, dir, "embeddings"), "vec_id", "embedding")),

    // ── simhash hamming pairs: 4×16-bit band equi-join (exhaustive
    //    for dist ≤ 3 by pigeonhole), hot-band broadcast anti-join ──
    "q134_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashHammingPairs(t(s, dir, "documents"), "doc_id", "text")),

    // ── corpus↔embedding integrity: one id-keyed full-outer join
    //    folded to |sources|+1 rows ──
    "q135_embedding_coverage" -> ((s, dir) =>
      operators.Profiling.embeddingCoverage(t(s, dir, "documents"), t(s, dir, "embeddings"))),

    // ── char-class profile: translate-deletion counts (no regex in
    //    the hot path), one combinable shuffle to |sources| rows ──
    "q136_char_classes" -> ((s, dir) =>
      CorpusStats.charClassProfile(t(s, dir, "documents"), "text")),

    // ── hapax stats: (source, token) count frame folded to |sources|
    //    rows; no joins, no second scan ──
    "q137_hapax" -> ((s, dir) =>
      CorpusStats.hapaxStats(t(s, dir, "documents"), "text")),

    // ── head/tail dup anchors: group SIZES not pairs — hot
    //    boilerplate heads cost one count row, never C(n,2) ──
    "q138_head_tail_dups" -> ((s, dir) =>
      Dedup.headTailDupGroups(t(s, dir, "documents"), "doc_id", "text")),

    // ── session features: ONE native session_window agg, shuffle
    //    keyed on the user — no rank window, no self-join ──
    "q139_session_features" -> ((s, dir) =>
      graft.operators.WindowOps.sessionFeatures(t(s, dir, "events"),
        "user_id", "ts", "event_type", "value")),

    // ── embedding z-score: |dims|-row moment frame broadcast back;
    //    the corpus-sized stream never shuffles ──
    "q140_embedding_zscore" -> ((s, dir) =>
      Similarity.standardizeEmbeddings(t(s, dir, "embeddings"), "vec_id", "embedding")),

    // ── two-sample KS: exact integer CDF-gap max over the bounded
    //    |distinct values| frame; only the final ratio rounds ──
    "q141_ks_drift" -> ((s, dir) =>
      graft.operators.Drift.ksDrift(t(s, dir, "documents"),
        col("n_chars"), col("source"), "src0", "src1")),

    // ── Hill tail index: TakeOrdered top-(k+1), ln-micro snaps, all
    //    arithmetic after the limit runs on k+1 rows ──
    "q142_hill_tail" -> ((s, dir) =>
      CorpusStats.hillTailIndex(t(s, dir, "documents"), "text", k = 100)),

    // ── key-skew profile: order stats off the count-of-counts frame —
    //    the rank window never sees |keys| rows ──
    "q143_key_skew" -> ((s, dir) =>
      SkewOps.keySkewProfile(
        t(s, dir, "documents").select(
          explode(TextAnalysis.tokens(col("text"))).as("tok")), col("tok"))),

    // ── HLL distinct sketch: O(m) mergeable registers off the portable
    //    md5-48 hash — deterministic, so even the estimate is
    //    oracle-exact; nothing after the distinct is corpus-sized ──
    "q144_hll_distinct" -> ((s, dir) =>
      CorpusStats.hllDistinctTokens(t(s, dir, "documents"), "lang", "text")),

    // ── median/MAD robust outliers: two count-of-counts shuffles, the
    //    cumulative windows see distinct VALUES, never rows ──
    "q145_mad_outliers" -> ((s, dir) =>
      operators.Profiling.madOutlierProfile(t(s, dir, "documents"),
        "source", col("n_chars"))),

    // ── per-doc OOV rate vs the corpus top-V vocab: TakeOrdered top-V
    //    broadcasts onto one cached tokenize; per-doc fold ──
    "q146_oov_rate" -> ((s, dir) =>
      CorpusStats.oovRate(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 500)),

    // ── shard composition entropy: one (shard, source) combinable
    //    shuffle; the sharding-vs-provenance bias alarm ──
    "q147_shard_entropy" -> ((s, dir) =>
      Sampling.shardCompositionEntropy(t(s, dir, "documents"),
        "doc_id", "source")),

    // ── dup-graph degree histogram: endpoint union → two combinable
    //    counts; hub detection without materializing extra pairs ──
    "q148_dup_degree" -> ((s, dir) =>
      Dedup.dupGraphDegrees(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)),

    // ── N-step sequential funnel: every reach-time is a conditional
    //    min over ONE user-key exchange; no self-joins, no per-step
    //    scan ──
    "q149_funnel_steps" -> ((s, dir) =>
      graft.operators.WindowOps.funnelSteps(t(s, dir, "events"),
        "user_id", "event_type", "ts", Seq("view", "click", "purchase"))),

    // ── doc-level co-occurrence: postings self-join bounded to the
    //    broadcast top-V vocab — ≤V² pairs per doc by parameter ──
    "q150_cooccurrence" -> ((s, dir) =>
      CorpusStats.tokenCooccurrence(t(s, dir, "documents"), "doc_id", "text",
        vocabSize = 40, minSupport = 25L)),

    // ── template-family pairs: simhash band candidates verified by
    //    prefix Levenshtein — the DP runs only on capped candidates,
    //    prefixes fetched by id-keyed joins ──
    "q151_template_pairs" -> ((s, dir) =>
      Dedup.templateEditPairs(t(s, dir, "documents"), "doc_id", "text")),

    // ── Spearman signal redundancy: distributed fractional ranks via
    //    value-histogram cumsum; the only ordered window sees distinct
    //    VALUES, never corpus rows ──
    "q152_signal_spearman" -> ((s, dir) =>
      operators.Profiling.signalSpearman(t(s, dir, "documents"),
        TextAnalysis.tokenCount(col("text")),
        TextAnalysis.qualityMicro(col("text")))),

    // ── n-gram containment pairs: the asymmetric subset-dup detector —
    //    same inverted-index plan as q18, true-size denominators ──
    "q153_containment_pairs" -> ((s, dir) =>
      Dedup.ngramContainmentPairs(t(s, dir, "documents"), "doc_id", "text",
        n = 3, minContainment = 0.6, maxShingleFreq = Some(1000))),

    // ── Cramér's V provenance dependence: sparse-cell χ² identity,
    //    floor-snapped pico terms, margins broadcast onto the cell
    //    frame — nothing after the first shuffle is corpus-sized ──
    "q154_source_lang_assoc" -> ((s, dir) =>
      operators.Profiling.categoricalAssociation(t(s, dir, "documents"),
        col("source"), col("lang"))),

    // ── burst windows: per-type tumbling counts; the z-test cleared of
    //    divisions — exact integer comparison, moments broadcast ──
    "q155_burst_windows" -> ((s, dir) =>
      graft.operators.WindowOps.burstWindows(t(s, dir, "events"),
        "event_type", "ts", windowMicros = 3600L * 1000000L)),

    // ── label centroid compactness: (label, dim) combinable sums →
    //    micro-lattice centroids broadcast onto ONE corpus scan ──
    "q156_label_compactness" -> ((s, dir) =>
      Similarity.labelCentroidCompactness(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label")),

    // ── cross-source dup matrix: the banded pair list joins the
    //    id→source map twice (ids only); ≤|sources|² output rows ──
    "q157_cross_source_dups" -> ((s, dir) =>
      Dedup.crossSourceDupMatrix(t(s, dir, "documents"), "doc_id", "text",
        "source", shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        pairsIn = Some(sharedDupPairs(s, dir)))),

    // ── PERSISTED LSH index: signatures hashed ONCE and written as a
    //    native bucketed table on (band, bucket); the pair self-join is
    //    then exchange-free and never rescans the text (plan-guarded).
    //    Output identical to q19 by the pigeonhole argument ──
    "q158_lsh_indexed_pairs" -> ((s, dir) => {
      Dedup.buildLshIndex(t(s, dir, "documents"), "doc_id", "text",
        "lsh_idx_q158", shingleN = 3, numHashes = 64, bands = 16)
      Dedup.lshPairsIndexed(s, "lsh_idx_q158", "doc_id", numHashes = 64,
        minJaccard = 0.8)
    }),

    // ── point probe of the persisted LSH index: a small probe batch's
    //    (band, bucket) set becomes a LITERAL predicate, so the index
    //    scan prunes to the probe's own buckets (SelectedBucketsCount)
    //    instead of reading the corpus. Output = the ≥0.8-agreement
    //    (probe, corpus) pairs — the prune narrows WHERE the index is
    //    read, never the result set ──
    "q159_lsh_index_probe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.buildLshIndex(docs, "doc_id", "text", "lsh_idx_q159",
        shingleN = 3, numHashes = 64, bands = 16)
      Dedup.lshProbeIndexed(s, "lsh_idx_q159", docs.where(col("doc_id") < 25),
        "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
        minJaccard = 0.8)
    }),

    // ── span-dedup ACTION: materialize the Lee-et-al-deduplicated
    //    corpus — covered-island intervals → one flattened bounds
    //    array per doc → codegen merge-walk strip on the doc scan ──
    "q160_strip_dup_spans" -> ((s, dir) =>
      Dedup.stripDupSpans(t(s, dir, "documents"), "doc_id", "text", k = 10)),

    // ── head-position token bias: template-header vocabulary — one
    //    combinable shuffle to |vocab| rows, top-N rank, 1-row totals
    //    broadcast; exact lifts via DECIMAL cross products ──
    "q161_head_token_bias" -> ((s, dir) =>
      CorpusStats.headTokenBias(t(s, dir, "documents"), "text",
        headLen = 10, topN = 200)),

    // ── Z-order layout audit: Morton key rides the scan (codegen),
    //    tile = fixed key prefix — ONE combinable agg, no sort/window;
    //    per-tile min/max of BOTH dims = the file-skipping stats the
    //    layout exists to tighten ──
    "q162_zorder_tiles" -> ((s, dir) =>
      operators.Layout.zOrderTileStats(t(s, dir, "events"), "user_id", "ts",
        bits = 10, tileShift = 8)),

    // ── b=1-bit MinHash: signatures packed to ONE bigint (64× smaller
    //    state), pair verify = XOR+popcount; survivor set and both
    //    estimates exact dyadic — full q19 oracle checkability ──
    "q163_bbit_minhash" -> ((s, dir) =>
      Dedup.bbitMinhashPairs(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8)),

    // ── top principal component: ONE corpus scan into the constant-
    //    size mergeable Gram sketch; 64×64 power iteration driver-side
    //    on 2145 collected doubles (bounded-collect contract) ──
    "q166_top_principal" -> ((s, dir) =>
      Similarity.topPrincipalComponent(t(s, dir, "embeddings"), "embedding",
        dim = 64, iters = 8)),

    // ── PageRank over the near-dup graph: 8 synchronous id-keyed
    //    join+sum iterations, lineage checkpoint-truncated per round;
    //    damping makes cross-engine slack decay. Pairs come from the
    //    shared persisted LSH index (one build feeds q175–q178/q182) ──
    "q175_dup_pagerank" -> ((s, dir) =>
      operators.Graph.pageRank(sharedDupPairs(s, dir))),

    // ── triangle census: a<b<c oriented two-hop join (hub expansion
    //    bounded by higher-id neighbors) + edge semi-join; all-integer
    //    transitivity ──
    "q176_dup_triangles" -> ((s, dir) =>
      operators.Graph.triangleStats(sharedDupPairs(s, dir))),

    // ── per-doc graph manifest: ONE cached pair list feeds component
    //    label, degree, 2-core and PageRank — the graph family's q102;
    //    the labeling frame is passed in, never recomputed ──
    "q178_graph_manifest" -> ((s, dir) => {
      val pairs = sharedDupPairs(s, dir).cache()
      val out = operators.Graph.manifest(pairs, sharedDupClusters(s, dir))
      operators.CacheScope.scoped(out, pairs)
    }),

    // ── bounded 2-core peel: per round a degree agg + two edge
    //    semi-joins; mirror-farm cores survive, edit chains peel ──
    "q177_dup_kcore" -> ((s, dir) =>
      operators.Graph.kCore(sharedDupPairs(s, dir))),

    // ── vocabulary richness: one (source, token) combinable shuffle;
    //    Good–Turing unseen mass + bias-corrected Chao1 from the
    //    type-sized frame, all-integer half-up forms ──
    "q174_vocab_richness" -> ((s, dir) =>
      CorpusStats.vocabRichness(t(s, dir, "documents"), "source", "text")),

    // ── dup-mass concentration: q47 clusters + one token join →
    //    |clusters| sums, TakeOrdered top-K, window over K rows only ──
    "q182_dup_mass_curve" -> ((s, dir) =>
      Dedup.dupMassCurveFromClusters(t(s, dir, "documents"), "doc_id", "text",
        sharedDupClusters(s, dir), topK = 20)),

    // ── near-dup evidence: matching trigram positions per candidate
    //    pair collapse onto diagonals; islands trick per (pair, diag)
    //    → longest certified common run, one row per pair ──
    "q181_dup_evidence" -> ((s, dir) =>
      Dedup.dupEvidenceSpans(t(s, dir, "documents"), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        pairsIn = Some(sharedDupPairs(s, dir)))),

    // ── LOGICAL DELETE on the persisted LSH index: tombstoned ids
    //    broadcast-anti-join off the index scan before pairing, so the
    //    pair set is exactly the one over corpus ∖ deleted — the
    //    GDPR/retraction path, no index rebuild, pair join still
    //    exchange-free ──
    "q183_lsh_tombstones" -> ((s, dir) =>
      Dedup.lshPairsIndexed(s, sharedLshIndexTable(s, dir), "doc_id",
        numHashes = 64, minJaccard = 0.8,
        tombstones = Some(t(s, dir, "documents")
          .where(col("doc_id") % 7 === 0).select("doc_id")))),

    // ── INCREMENTAL IVF maintenance: index built on the even half's
    //    vectors (its sampled centroids become the FIXED quantizer),
    //    odd half appended with that same sidecar matrix — probes then
    //    see the union corpus through the unchanged partition-pruned
    //    scan. The oracle replays the fixed-quantizer semantics: cent
    //    from the even half, assignment over everything ──
    "q184_ivf_index_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/ivf_idx_q184"
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", idxDir, nCentroids = 16)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", idxDir)
      Similarity.ivfKnnIndexed(s, idxDir, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 6)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── LOGICAL DELETE on the persisted IVF index: tombstoned vector
    //    ids anti-join off the pruned scan — deleted rows stop being
    //    neighbors immediately, queries keep working, physical cleanup
    //    is the compaction (spec-verified) ──
    "q185_ivf_tombstones" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val idxDir = s.conf.get("spark.sql.warehouse.dir")
        .stripSuffix("/") + "/ivf_idx_q185"
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", idxDir,
        nCentroids = 16)
      Similarity.ivfKnnIndexed(s, idxDir, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 6,
          tombstones = Some(emb.where(col("vec_id") % 5 === 0)
            .select("vec_id")))
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── dedup-POLICY threshold sweep: the tuning card run before
    //    committing a corpus-wide pass — pair count and docs touched
    //    at each candidate threshold, all from ONE read of the shared
    //    index at the loosest threshold (every sweep point > 0.75 =
    //    1 − bands/numHashes, so the banded candidate set is EXACT at
    //    each by the pigeonhole argument; estimates are dyadic k/64,
    //    so the ≥ comparisons are float-exact) ──
    "q186_dedup_threshold_sweep" -> ((s, dir) => {
      val pairs = Dedup.lshPairsIndexed(s, sharedLshIndexTable(s, dir),
        "doc_id", numHashes = 64, minJaccard = 0.78125).cache()
      val th = array(Seq(0.78125, 0.84375, 0.90625, 0.96875).map(lit): _*)
      val swept = pairs.select(col("id_a"), col("id_b"), col("est_jaccard"),
          explode(th).as("threshold"))
        .where(col("est_jaccard") >= col("threshold"))
      val np = swept.groupBy("threshold").agg(count(lit(1)).as("n_pairs"))
      val nd = swept.select(col("threshold"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        .groupBy("threshold").agg(countDistinct("id").as("n_docs"))
      operators.CacheScope.scoped(np.join(nd, Seq("threshold")), pairs)
    }),

    // ── NEAR-DUP decontamination list: the fuzzy member of the
    //    contamination family (exact-gram q41/q62/q76, span q111) —
    //    train docs that near-duplicate an eval doc, with the pair
    //    evidence. One read of the shared pairs + two id-keyed bucket
    //    lookups (text never joins); the output is the actionable
    //    drop/review list before a training run ──
    "q188_neardup_decontam" -> ((s, dir) => {
      val docsB = t(s, dir, "documents").select(col("doc_id"),
        (Sampling.md5Bucket("doc_id", 100) < 80).as("__train"))
      sharedDupPairs(s, dir)
        .join(docsB.select(col("doc_id").as("id_a"), col("__train").as("__ta")), "id_a")
        .join(docsB.select(col("doc_id").as("id_b"), col("__train").as("__tb")), "id_b")
        .where(col("__ta") =!= col("__tb"))
        .select(
          when(col("__ta"), col("id_a")).otherwise(col("id_b")).as("train_id"),
          when(col("__ta"), col("id_b")).otherwise(col("id_a")).as("eval_id"),
          col("est_jaccard"))
    }),

    // ── index FRESHNESS card: a persisted index generation (built
    //    from a past snapshot — the <90 md5 bucket, q173's convention)
    //    audited against the CURRENT corpus (≥10 bucket): how many
    //    current docs the index covers, how many are missing (arrived
    //    since the build → need an append), how many index entries
    //    point at docs no longer in the corpus (retracted → need
    //    tombstones/compaction). The go/no-go an ops team reads before
    //    trusting index-fed analyses. Ids only — text never joins;
    //    docs under 3 tokens never enter an index by construction ──
    "q189_index_staleness" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b = Sampling.md5Bucket("doc_id", 100)
      Dedup.buildLshIndex(docs.where(b < 90), "doc_id", "text",
        "lsh_idx_q189", shingleN = 3, numHashes = 64, bands = 16)
      val indexed = s.table("lsh_idx_q189").select("doc_id").distinct()
      val current = docs.where(b >= 10)
        .where(size(graft.functions.TextAnalysis.tokens(col("text"))) >= 3)
        .select("doc_id")
      indexed.withColumn("__i", lit(1))
        .join(current.withColumn("__c", lit(1)), Seq("doc_id"), "full_outer")
        .agg(
          count(lit(1)).as("n_union"),
          sum(when(col("__i").isNotNull && col("__c").isNotNull, 1L)
            .otherwise(0L)).as("n_covered"),
          sum(when(col("__i").isNull, 1L).otherwise(0L)).as("n_missing"),
          sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_gone"))
    }),

    // ── SAME-ID REPLACE lifecycle on the persisted LSH index, run
    //    end-to-end as one query (the ops runbook at Dedup.scala §
    //    appendToLshIndex: tombstone old id → compact to a new
    //    generation → drop the tombstone → append the new version):
    //    doc 7's text is replaced by doc 8's. The emitted pair set
    //    must equal a from-scratch pair build over the REPLACED
    //    corpus — which is exactly what the oracle computes via a
    //    rewritten documents CTE, making the composed lifecycle
    //    hash-gated, not just spec'd ──
    "q190_lsh_replace_lifecycle" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val target = 7L
      Dedup.buildLshIndex(d, "doc_id", "text", "lsh_idx_q190",
        shingleN = 3, numHashes = 64, bands = 16)
      Dedup.compactLshIndex(s, "lsh_idx_q190", "lsh_idx_q190_v2",
        d.where(col("doc_id") === target).select("doc_id"), "doc_id")
      Dedup.appendToLshIndex(
        d.where(col("doc_id") === 8L)
          .select(lit(target).as("doc_id"), col("text")),
        "doc_id", "text", "lsh_idx_q190_v2",
        shingleN = 3, numHashes = 64, bands = 16)
      Dedup.lshPairsIndexed(s, "lsh_idx_q190_v2", "doc_id",
        numHashes = 64, minJaccard = 0.8)
    }),

    // ── CAPACITY GROWTH on the persisted LSH index: re-bucket the
    //    32-bucket layout to 64 physical buckets WITHOUT re-hashing
    //    (values untouched, only the physical distribution changes) —
    //    the re-layout an ops team runs when the corpus has outgrown
    //    the build-time bucket count and per-bucket row masses start
    //    spilling the exchange-free pair join's per-task sorts. The
    //    pair set over the widened layout must equal q19's from-scratch
    //    oracle exactly ──
    "q192_lsh_rebucket" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      Dedup.buildLshIndex(d, "doc_id", "text", "lsh_idx_q192",
        shingleN = 3, numHashes = 64, bands = 16)
      Dedup.rebucketLshIndex(s, "lsh_idx_q192", "lsh_idx_q192_w",
        buckets = 64)
      Dedup.lshPairsIndexed(s, "lsh_idx_q192_w", "doc_id",
        numHashes = 64, minJaccard = 0.8)
    }),

    // ── THRESHOLD MIGRATION on the persisted LSH index: dedup policy
    //    loosens from 0.8 to 0.7, below the 16-band exactness bound
    //    (1 − 16/64 = 0.75) — re-band the SHARED index's stored
    //    signatures into 32 bands of 2 (exact down to 0.5) without
    //    re-hashing one byte of corpus text, then read pairs at the
    //    new threshold. Oracle: the q19 chain at 2 rows/band, minJ
    //    0.7 — pigeonhole-exact on both sides ──
    "q193_lsh_reband" -> ((s, dir) => {
      Dedup.rebandLshIndex(s, sharedLshIndexTable(s, dir),
        "lsh_idx_q193_b32", "doc_id", numHashes = 64, newBands = 32)
      Dedup.lshPairsIndexed(s, "lsh_idx_q193_b32", "doc_id",
        numHashes = 64, minJaccard = 0.7)
    }),

    // ── CAPACITY-GROWTH REBUILD on the persisted IVF index (the
    //    re-layout q192 does for LSH is impossible here: the physical
    //    unit IS the quantizer's partition) — index built at 8
    //    centroids on the even half, odd half appended under that
    //    stale 8-wide quantizer, then RE-TRAINED to 16 centroids from
    //    the index's own rows (one index scan, source corpus never
    //    re-read). The retrained generation must equal a from-scratch
    //    16-centroid build over the union: the oracle is q39's verbatim ──
    "q194_ivf_retrain" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      val v1 = wh + "/ivf_idx_q194_v1"
      val v2 = wh + "/ivf_idx_q194_v2"
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", v1, nCentroids = 8)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", v1)
      Similarity.retrainIvfIndex(s, v1, v2, nCentroids = 16)
      Similarity.ivfKnnIndexed(s, v2, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 6)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── IVF PARTITION-OCCUPANCY capacity card (the q187 twin, and
    //    q194's decision input): per-cluster row masses of an index
    //    whose appends landed under a stale half-corpus 8-wide
    //    quantizer — overgrown partitions and append concentration are
    //    what trigger the re-quantized rebuild. One index scan, one
    //    map-combinable shuffle over ≤ nCentroids groups; the vectors
    //    never leave the scan (ids + partition column only) ──
    "q195_ivf_occupancy" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val v1 = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/ivf_idx_q195"
      Similarity.buildIvfIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", v1, nCentroids = 8)
      Similarity.appendToIvfIndex(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", v1)
      Similarity.readIvfIndex(s, v1)
        .groupBy("cent_id")
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("neighbor_id") % 2 === 1, 1L).otherwise(0L))
            .as("n_appended"))
    }),

    // ── IVF INDEX FRESHNESS card (the q189 twin): covered / missing /
    //    gone counts of an index generation vs the current vector
    //    corpus — the append/retrain go-no-go. Ids-only full-outer
    //    join; embeddings never leave their scans ──
    "q196_ivf_freshness" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val b = Sampling.md5Bucket("vec_id", 100)
      val v1 = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/") +
        "/ivf_idx_q196"
      Similarity.buildIvfIndex(emb.where(b < 90), "vec_id", "embedding",
        v1, nCentroids = 16)
      val indexed = Similarity.readIvfIndex(s, v1)
        .select(col("neighbor_id").as("vec_id")).distinct()
      val current = emb.where(b >= 10).select("vec_id")
      indexed.withColumn("__i", lit(1))
        .join(current.withColumn("__c", lit(1)), Seq("vec_id"), "full_outer")
        .agg(
          count(lit(1)).as("n_union"),
          sum(when(col("__i").isNotNull && col("__c").isNotNull, 1L)
            .otherwise(0L)).as("n_covered"),
          sum(when(col("__i").isNull, 1L).otherwise(0L)).as("n_missing"),
          sum(when(col("__c").isNull, 1L).otherwise(0L)).as("n_gone"))
    }),

    // ── REAL image codec round-trip (JDK ImageIO — no stub): ASCII
    //    docs' first 64 codepoints render as an 8×8 grayscale PNG
    //    (real zlib encode), which is DECODED, nearest-neighbor
    //    resized to 4×4 on the decoded pixel grid, RE-ENCODED, decoded
    //    again, and reduced to exact-integer gray stats. Gray PNG is
    //    lossless, so the oracle computes the same integers straight
    //    from the codepoints — any corruption in either codec
    //    direction or the resize math flips the hash ──
    "q197_image_codec_roundtrip" -> ((s, dir) => {
      val media = operators.Multimodal.synthesizeGrayPng(
        t(s, dir, "documents"), "doc_id", "text", w = 8, h = 8)
      operators.Multimodal.decodeImageFeatures(
        operators.Multimodal.resizeImage(media, newW = 4, newH = 4))
    }),

    // ── REAL audio codec round-trip (javax.sound — no stub): first 32
    //    codepoints become signed 16-bit PCM samples in a REAL WAV
    //    container (AudioSystem RIFF writer), parsed back by
    //    AudioSystem and reduced to exact-integer PCM stats (sum,
    //    abs-sum, peak, strict-sign zero crossings) ──
    "q198_wav_codec_roundtrip" -> ((s, dir) => {
      val media = operators.Multimodal.synthesizeWav(
        t(s, dir, "documents"), "doc_id", "text", nSamples = 32)
      operators.Multimodal.decodeWavFeatures(media)
    }),

    // ── MEDIA INTEGRITY card: the decodable/corrupt census a
    //    multimodal ingest runs before paying for feature extraction —
    //    every doc-id ≡ 0 (mod 7) payload is truncated to 10 bytes
    //    (an invalid PNG), pushed through the REAL ImageIO decode, and
    //    counted by outcome. Exercises the drop-don't-throw contract
    //    at gate level: the corrupt count must be exactly the planted
    //    set, never a crash and never silent loss of good rows ──
    "q199_media_integrity_card" -> ((s, dir) => {
      import s.implicits._
      val media = operators.Multimodal.synthesizeGrayPng(
        t(s, dir, "documents"), "doc_id", "text", w = 8, h = 8)
      val corrupted = media.map(r =>
        if (r.id % 7 == 0) r.copy(content = r.content.take(10)) else r)
      operators.Multimodal.integrityCard(corrupted)
    }),

    // ── EVENT-TIME temporal join, DRIVER-GATED (VERDICT r11 item 4):
    //    the stateful streaming as-of join (StreamOps.scala §
    //    temporalJoinEventTime — the survey's "only genuinely hard
    //    operator") replayed over the events fixture as a REAL
    //    StructuredStreaming query: time-sliced file source → one slice
    //    per micro-batch (cross-batch state genuinely exercised) →
    //    memory sink. Facts = purchases, versioned dim = views per
    //    user; the oracle is the batch AS-OF SQL over the same rows —
    //    the "dynamic table = table" contract, now hash-gated ──
    "q200_temporal_join_eventtime" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      // one dim version per (user, ts): max event_id — a deterministic
      // tie-break the oracle mirrors (arrival order must never decide)
      val dims = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("event_id"))
        .select(col("user_id").cast("string").as("key"),
          col("event_id").as("id"), col("ts_us").as("tsMillis"),
          col("event_id").cast("string").as("payload"), lit(true).as("isDim"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("key"),
          col("event_id").as("id"), col("ts_us").as("tsMillis"),
          lit("").as("payload"), lit(false).as("isDim"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayTemporalJoinEventTime(
          facts.unionByName(dims).as[graft.streaming.TemporalRow],
          wh + "/tj_replay_q200", slices = 6, queryName = "q200_tj_sink")
        .select(col("factId").as("purchase_id"),
          col("key").cast("long").as("user_id"),
          col("factTsMillis").as("ts_us"),
          col("dimId").as("matched_view_id"))
    }),

    // ── STREAMING NEAR-DUP GATE, DRIVER-GATED (round 12): the live
    //    ingest admission check (StreamingDedup.flagNearDups) replayed
    //    as a real file-source stream — 20% md5-bucket arrivals in 5
    //    micro-batches against the LSH bucket index of the 80% corpus.
    //    The oracle is the batch q19 pair join restricted to pairs
    //    CROSSING the split, oriented stream→corpus; per-band
    //    re-emissions collapse batch-side (identical rows) ──
    "q201_stream_neardup_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val b = operators.Sampling.md5Bucket("doc_id", 100)
      val index = graft.streaming.StreamingDedup.bucketIndex(
        docs.where(b < 80), "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16)
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(docs.where(b >= 80),
          "doc_id", wh + "/replay_q201", slices = 5,
          queryName = "q201_gate_sink") { stream =>
        graft.streaming.StreamingDedup.flagNearDups(stream, index,
          "doc_id", "text", shingleN = 3, numHashes = 64, bands = 16,
          minJaccard = 0.8)
      }.distinct()
    }),

    // ── STREAMING TUMBLE AGGREGATION replay, DRIVER-GATED (round 12):
    //    q07's windowed aggregate as a real watermarked stream — 5
    //    event-time-ordered micro-batches, zero-delay watermark, append
    //    mode (each window emits exactly once when the watermark closes
    //    it); a far-future sentinel closes the tail windows and is
    //    filtered back out. Oracle = q07's batch tumble SQL ──
    "q203_stream_tumble_replay" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"),
        col("value"), unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"),
        lit(graft.streaming.StreamReplay.SentinelKey).as("event_type"),
        lit(0.0).as("value"), lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q203", slices = 5, queryName = "q203_tumble_sink",
          sentinel = Some(sentinel)) { stream =>
        stream.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("event_type"), col("n_events"), col("sum_value"))
      }.where(col("event_type") =!= graft.streaming.StreamReplay.SentinelKey)
    }),

    // ── STREAM-STREAM INTERVAL JOIN replay, DRIVER-GATED (round 12):
    //    q11's purchase↔preceding-click join with BOTH sides live —
    //    two independent file-source streams (4 slices each, lockstep
    //    triggers), zero-delay watermarks on both, native Spark
    //    stream-stream time-range join. Inner matches emit on arrival
    //    (no window close needed) so no sentinel; oracle = q11's batch
    //    SQL ──
    "q204_stream_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), unix_micros(col("ts")).as("__ord"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"), unix_micros(col("ts")).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend2(p, c, "__ord",
          wh + "/replay_q204_l", wh + "/replay_q204_r", slices = 4,
          queryName = "q204_ij_sink") { (lp, rc) =>
        graft.streaming.StreamOps.intervalJoin(
            lp.drop("__ord"), rc.drop("__ord"), "user_id",
            "p_ts", "c_ts", "1 HOUR", "0 SECONDS")
          .select(col("purchase_id"), col("click_id"),
            col("l.user_id").as("user_id"))
      }
    }),

    // ── STREAMING SESSION WINDOWS replay, DRIVER-GATED (round 12):
    //    q09's 30-minute-gap sessionization as a watermarked stream —
    //    Spark's streaming session_window MERGES partial sessions
    //    across micro-batches (the stateful semantics the batch form
    //    never exercises); a far-future sentinel user closes the tail
    //    sessions and is filtered back out. Oracle = q09's batch
    //    session SQL ──
    "q205_stream_session_replay" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"),
        col("value"), unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 2L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"),
        lit(-1L).as("user_id"), lit(0.0).as("value"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q205", slices = 5, queryName = "q205_sess_sink",
          sentinel = Some(sentinel)) { stream =>
        stream.withWatermark("ts", "0 seconds")
          .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
          .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
          .select(col("user_id"),
            unix_micros(col("session_window.start")).as("session_start_us"),
            unix_micros(col("session_window.end")).as("session_end_us"),
            col("n_events"), col("sum_value"))
      }.where(col("user_id") =!= -1L)
    }),

    // ── STREAMING RETRACT-NET materialization replay, DRIVER-GATED
    //    (round 12): q13's changelog fold as an UPDATE-MODE streaming
    //    aggregation — clicks retract +1, errors −1, decimal-weighted
    //    values; the memory sink appends every per-key revision, so the
    //    final state is recovered by a monotone update counter (n of
    //    rows folded so far per key — strictly increasing across
    //    revisions). Sums are order-free → deterministic under any
    //    slicing; oracle = q13's batch SQL ──
    "q206_stream_retract_net" -> ((s, dir) => {
      val changelog = t(s, dir, "events")
        .where(col("event_type").isin("click", "error"))
        .withColumn("op", when(col("event_type") === "click", 1).otherwise(-1))
        .select(col("user_id"), col("op"), col("value"),
          unix_micros(col("ts")).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      val updates = graft.streaming.StreamReplay.replayAppend(changelog,
          "__ord", wh + "/replay_q206", slices = 5,
          queryName = "q206_retract_sink", outputMode = "update") { stream =>
        stream.groupBy(col("user_id"))
          .agg(sum(col("op")).cast("long").as("net_count"),
            sum(col("op") * col("value").cast("decimal(18,4)")).cast("double")
              .as("net_value"),
            count(lit(1)).as("__n_upd"))
      }
      val w = Window.partitionBy("user_id").orderBy(desc("__n_upd"))
      updates.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
        .where(col("net_count") =!= 0)
        .select(col("user_id"), col("net_count"), col("net_value"))
    }),

    // ── PROCESSING-TIME temporal join replay, DRIVER-GATED (round 12):
    //    the join-on-arrival form (StreamOps.temporalJoin) — no fact
    //    buffering, no watermark; on the replay's EVENT-TIME-ORDERED
    //    slices every dim version a fact can need has already arrived,
    //    so join-on-arrival coincides with the event-time-correct
    //    answer and q200's batch AS-OF oracle gates it too. No
    //    sentinel: facts emit in their arrival batch ──
    "q207_stream_proctime_temporal" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
        .where(col("event_type").isin("view", "purchase"))
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("ts_us"))
      val dims = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("event_id")).as("event_id"))
        .select(col("user_id").cast("string").as("key"),
          col("event_id").as("id"), col("ts_us").as("tsMillis"),
          col("event_id").cast("string").as("payload"), lit(true).as("isDim"))
      val facts = ev.where(col("event_type") === "purchase")
        .select(col("user_id").cast("string").as("key"),
          col("event_id").as("id"), col("ts_us").as("tsMillis"),
          lit("").as("payload"), lit(false).as("isDim"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(
          facts.unionByName(dims), "tsMillis", wh + "/replay_q207",
          slices = 6, queryName = "q207_tj_sink") { stream =>
        graft.streaming.StreamOps.temporalJoinTagged(
          stream.as[graft.streaming.TemporalRow], maxVersions = Int.MaxValue).toDF()
      }.select(col("factId").as("purchase_id"),
        col("key").cast("long").as("user_id"),
        col("factTsMillis").as("ts_us"),
        col("dimId").as("matched_view_id"))
    }),

    // ── STREAMING HOP-WINDOW aggregation replay, DRIVER-GATED
    //    (round 12): q08's 1h/30min sliding windows on a watermarked
    //    stream, append mode (every window an event belongs to ends
    //    after the event, so zero-delay ordered slices never drop a
    //    row); far-future sentinel closes the tail, its windows
    //    filtered by start bound. Oracle = q08's batch SQL ──
    "q208_stream_hop_replay" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("value"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"), lit(0.0).as("value"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q208", slices = 5, queryName = "q208_hop_sink",
          sentinel = Some(sentinel)) { stream =>
        stream.withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour", "30 minutes"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .select(unix_micros(col("window.start")).as("window_start_us"),
            col("n_events"), col("sum_value"))
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING CUMULATE replay, DRIVER-GATED (round 12): q35's
    //    growing windows (2h max, 30min step) on a stream — the
    //    exploded window rows carry their own end-timestamp event-time
    //    attribute, watermarked with the MAX window size as delay (an
    //    in-bucket event's earliest window end may trail the bucket's
    //    latest seen end by up to maxSize, the price of the explode
    //    encoding); sentinel 5h out closes everything. Oracle = q35's
    //    batch SQL ──
    "q209_stream_cumulate_replay" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("value"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 5L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"), lit(0.0).as("value"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q209", slices = 5, queryName = "q209_cum_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.operators.WindowOps.cumulate(stream, "ts",
            maxSizeMicros = 7200000000L, stepMicros = 1800000000L)
          .withColumn("__we", timestamp_micros(col("window_end_us")))
          .withWatermark("__we", "2 hours")
          .groupBy(col("window_start_us"), col("__we"))
          .agg(count(lit(1)).as("n_events"),
            sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
          .select(col("window_start_us"),
            unix_micros(col("__we")).as("window_end_us"),
            col("n_events"), col("sum_value"))
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING FIRST-PER-KEY DEDUP replay, DRIVER-GATED (round 12):
    //    q06's first-event-per-(user, type) as streaming dropDuplicates
    //    state across 5 micro-batches. Each staged slice is pre-reduced
    //    to its min-(ts, event_id) row per key (sliceMap — streaming
    //    dedup picks an ARBITRARY first among same-batch repeats, so
    //    within-batch ties must not exist); across slices the earliest
    //    time-slice containing a key holds its global minimum, so the
    //    state's first-arrival choice equals the batch rank-1 oracle ──
    "q211_stream_dedup_first" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q211", slices = 5, queryName = "q211_dedup_sink",
          sliceMap = sl => sl.groupBy(col("user_id"), col("event_type"))
            .agg(min_by(struct(col("event_id"), col("__ord")),
              struct(col("__ord"), col("event_id"))).as("__f"))
            .select(col("user_id"), col("event_type"),
              col("__f.event_id"), col("__f.__ord"))) { stream =>
        graft.streaming.StreamOps.firstPerKey(stream, Seq("user_id", "event_type"))
      }.select(col("user_id"), col("event_type"),
        col("event_id").as("first_event_id"), col("__ord").as("first_ts_us"))
    }),

    // ── STREAMING WINDOWED HLL replay, DRIVER-GATED (round 12): the
    //    live distinct-users-per-hour monitor
    //    (StreamingCorpusStats.windowedHllDistinct) — 64 one-byte
    //    max-merge registers per open window, commutative AND
    //    idempotent, so the closed-window estimate is independent of
    //    slicing/partitioning/duplicate delivery. The oracle is q144's
    //    exact HLL SQL with the group key swapped to the hour window;
    //    the far-future sentinel fires the EventTimeTimeout closes ──
    "q212_stream_hll_window" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"), lit(-1L).as("user_id"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q212", slices = 5, queryName = "q212_hll_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingCorpusStats.windowedHllDistinct(stream,
          "user_id", "ts", "1 hour", 3600000L, "0 seconds").toDF()
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING WINDOWED KMV replay, DRIVER-GATED (round 12): the
    //    k-minimum-values sibling (windowedKmvDistinct, k=64) — the
    //    KmvBuf insert is commutative and distinct-in-buffer, so the
    //    closed-window (n_kept, estimate) is arrival-order-free; the
    //    estimate is the shared KmvDistinct.finish formula, rounded 6
    //    exactly as the batch q52 emits it. Oracle = q52's SQL keyed
    //    by the hour window ──
    "q213_stream_kmv_window" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"), lit(-1L).as("user_id"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q213", slices = 5, queryName = "q213_kmv_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingCorpusStats.windowedKmvDistinct(stream,
          "user_id", "ts", "1 hour", 3600000L, "0 seconds", k = 64).toDF()
      }.where(col("window_start_us") <= hi)
        .withColumn("estimate", round(col("estimate"), 6))
    }),

    // ── STREAMING WINDOWED PSI replay, DRIVER-GATED (round 12): the
    //    live category-drift monitor (StreamingDrift.windowedPsi) —
    //    per-hour event_type mix scored against the table's own global
    //    mix as the fixed baseline (count/total doubles, mirrored
    //    op-for-op in the oracle). The gate projects (window, category,
    //    n, psi_term): psi_term's transcendental product can't land on
    //    a 6-decimal tie, while the Laplace `share` is EXACTLY the
    //    integer-ratio tie case CLAUDE.md forbids rounding (q82) at
    //    2.9k emitted values — share stays pinned by the batch-parity
    //    spec instead. Sentinel category is a real one: its window
    //    never closes (watermark stops at it) and is filtered out ──
    "q214_stream_psi_window" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      // |event types|-sized collect (bounded-collect contract): the
      // fixed baseline the stream is scored against
      val catRows = ev.groupBy("event_type").count().collect()
      val tot = catRows.map(_.getLong(1)).sum
      val baseline = catRows.map(r =>
        r.getString(0) -> r.getLong(1).toDouble / tot.toDouble).toMap
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"),
        lit(catRows.head.getString(0)).as("event_type"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q214", slices = 5, queryName = "q214_psi_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingDrift.windowedPsi(stream, "event_type",
          "ts", "1 hour", 3600000L, "0 seconds", baseline).toDF()
      }.where(col("window_start_us") <= hi)
        .select(col("window_start_us"), col("category"), col("n"),
          col("psi_term"))
    }),

    // ── STREAMING WINDOWED JS replay, DRIVER-GATED (round 12): the
    //    live lexical-drift monitor (StreamingDrift.windowedTokenJs) —
    //    per-window hashed-unigram mix vs the corpus's own global mix
    //    (count/total doubles mirrored in the oracle), 2·JS in exact
    //    integer micro-units. Documents get synthetic event times
    //    (doc_id % 48 hours) while the replay stages by doc_id, so
    //    EVERY window accumulates across all 5 micro-batches; a 48 h
    //    watermark delay keeps the id-ordered arrivals from ever being
    //    late, and the sentinel 100 h out still closes every window ──
    "q215_stream_js_window" -> ((s, dir) => {
      import s.implicits._
      val baseUs = 1704067200000000L // 2024-01-01T00:00:00Z
      val docs = t(s, dir, "documents").select(col("text"),
        timestamp_micros(lit(baseUs) + (col("doc_id") % 48) * 3600000000L).as("ts"),
        col("doc_id").as("__ord"))
      // reference mix: ≤1024-bucket collect (bounded-collect contract)
      val bucketCol = (conv(substring(md5(col("__tok").cast("binary")), 1, 8), 16, 10)
        .cast("long") % 1024).cast("int")
      val refRows = docs
        .select(explode(graft.functions.TextAnalysis.tokens(col("text"))).as("__tok"))
        .select(bucketCol.as("b")).groupBy("b").count().collect()
      val nTot = refRows.map(_.getLong(1)).sum
      val reference = refRows.map(r =>
        r.getInt(0) -> r.getLong(1).toDouble / nTot.toDouble).toMap
      val hi = baseUs + 47L * 3600000000L
      val sentinelTs = baseUs + 100L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(lit("x").as("text"),
        timestamp_micros(lit(sentinelTs)).as("ts"),
        lit(Long.MaxValue).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(docs, "__ord",
          wh + "/replay_q215", slices = 5, queryName = "q215_js_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingDrift.windowedTokenJs(stream, "text", "ts",
          "1 hour", 3600000L, "48 hours", reference).toDF()
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING BURST GATE replay, DRIVER-GATED (round 12): the
    //    live spike monitor (StreamingDrift.windowedBursts) — per
    //    (hour window, type) count z-tested against burstMoments of the
    //    same events (the fixed "yesterday" baseline), division-free
    //    exact decimal/HUGEINT algebra on both sides, so is_burst is a
    //    bit-portable BOOLEAN. Native watermarked agg + broadcast
    //    baseline join in append mode; sentinel closes the tail ──
    "q216_stream_burst_window" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("event_type"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      // |event types|-row collect (bounded-collect contract)
      val moments = graft.operators.WindowOps.burstMoments(
        t(s, dir, "events"), "event_type", "ts", 3600000000L).collect()
      val baseline = moments.map { r =>
        r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getDecimal(3).longValueExact()))
      }.toMap
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"),
        lit(moments.head.getString(0)).as("event_type"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q216", slices = 5, queryName = "q216_burst_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingDrift.windowedBursts(stream, "event_type",
          "ts", "1 hour", "0 seconds", baseline)
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING CORPUS CARD replay, DRIVER-GATED (round 12): the
    //    live per-window data card (windowedCorpusCard — q81's twin
    //    minus the dup count, which append mode can't chain): all
    //    algebraic aggregates over codegen token/quality kernels, one
    //    native watermarked windowed aggregation. Same doc_id-staged /
    //    synthetic-hour / 48 h-delay replay as q215 ──
    "q217_stream_corpus_card" -> ((s, dir) => {
      import s.implicits._
      val baseUs = 1704067200000000L
      val docs = t(s, dir, "documents").select(col("text"),
        timestamp_micros(lit(baseUs) + (col("doc_id") % 48) * 3600000000L).as("ts"),
        col("doc_id").as("__ord"))
      val hi = baseUs + 47L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(lit("x").as("text"),
        timestamp_micros(lit(baseUs + 100L * 3600000000L)).as("ts"),
        lit(Long.MaxValue).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(docs, "__ord",
          wh + "/replay_q217", slices = 5, queryName = "q217_card_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingCorpusStats.windowedCorpusCard(stream,
          "text", "ts", "1 hour", "48 hours")
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING CALIBRATION replay, DRIVER-GATED (round 12): the
    //    live classifier-vs-rules drift monitor (windowedCalibration —
    //    q119's twin): per (window, score bin) the hashed-classifier
    //    mean and the Gopher keep rate in exact half-up micro units.
    //    All algebraic aggregates over codegen kernels; same staging
    //    as q217 ──
    "q218_stream_calibration" -> ((s, dir) => {
      import s.implicits._
      val baseUs = 1704067200000000L
      val docs = t(s, dir, "documents").select(col("text"),
        timestamp_micros(lit(baseUs) + (col("doc_id") % 48) * 3600000000L).as("ts"),
        col("doc_id").as("__ord"))
      val hi = baseUs + 47L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(lit("x").as("text"),
        timestamp_micros(lit(baseUs + 100L * 3600000000L)).as("ts"),
        lit(Long.MaxValue).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(docs, "__ord",
          wh + "/replay_q218", slices = 5, queryName = "q218_cal_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingCorpusStats.windowedCalibration(stream,
          "text", "ts", "1 hour", "48 hours", bins = 10)
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING LANG-AGREEMENT replay, DRIVER-GATED (round 12): the
    //    live declared-vs-predicted confusion cells
    //    (StreamingProfiling.windowedLangAgreement — q179's twin minus
    //    share_ppm, which append mode can't chain): prediction from
    //    the one q16 langId expression, one native watermarked
    //    windowed aggregation. Same staging as q217 ──
    "q219_stream_lang_agreement" -> ((s, dir) => {
      import s.implicits._
      val baseUs = 1704067200000000L
      val docs = t(s, dir, "documents").select(col("source"), col("lang"),
        col("text"),
        timestamp_micros(lit(baseUs) + (col("doc_id") % 48) * 3600000000L).as("ts"),
        col("doc_id").as("__ord"))
      val hi = baseUs + 47L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(lit("s").as("source"),
        lit("en").as("lang"), lit("x").as("text"),
        timestamp_micros(lit(baseUs + 100L * 3600000000L)).as("ts"),
        lit(Long.MaxValue).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(docs, "__ord",
          wh + "/replay_q219", slices = 5, queryName = "q219_lang_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingProfiling.windowedLangAgreement(stream,
          "source", "lang", "text", "ts", "1 hour", "48 hours")
      }.where(col("window_start_us") <= hi)
    }),

    // ── STREAMING NOVELTY-PRESENCE replay, DRIVER-GATED (round 12):
    //    the live first-seen tracker (StreamingProfiling
    //    .noveltyPresence) — one row per (entity, day), is_new on the
    //    entity's first ARRIVAL day, which on the event-time-ordered
    //    replay is its min day, so the batch first-seen SQL gates it.
    //    No sentinel: NoTimeout state emits on arrival ──
    "q220_stream_novelty_presence" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("user_id"), col("ts"),
        unix_micros(col("ts")).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q220", slices = 5,
          queryName = "q220_novelty_sink") { stream =>
        graft.streaming.StreamingProfiling.noveltyPresence(stream,
          "user_id", "ts", "0 seconds").toDF()
      }
    }),

    // ── STREAMING VECTOR NEAR-DUP GATE, DRIVER-GATED (round 12): the
    //    embedding twin of q201 (StreamingSimilarity.flagNearVectors) —
    //    every 5th vector re-ingested as a live stream against the
    //    persisted IVF index of the full corpus: per arrival, nProbe=6
    //    centroid assignment (codegen argmax, no state) + ONE
    //    stream-static cent_id equi-join + exact cosine ≥ 0.3. Oracle
    //    = the q39 IVF CTE chain turned into a probed pair join ──
    "q221_stream_nearvec_gate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      val idxDir = wh + "/ivf_q221"
      operators.Similarity.buildIvfIndex(emb, "vec_id", "embedding",
        idxDir, nCentroids = 16)
      graft.streaming.StreamReplay.replayAppend(
          emb.where(col("vec_id") % 5 === 0)
            .select(col("vec_id"), col("embedding")),
          "vec_id", wh + "/replay_q221", slices = 5,
          queryName = "q221_nearvec_sink") { stream =>
        graft.streaming.StreamingSimilarity.flagNearVectors(stream, idxDir,
          "vec_id", "embedding", threshold = 0.3, nProbe = 6)
      }.select(col("vec_id"), col("neighbor_id"),
        round(col("cos_sim"), 6).as("cos_sim"))
    }),

    // ── STREAM-STREAM LEFT OUTER interval join replay, DRIVER-GATED
    //    (round 12): q204's shape with OUTER semantics — a purchase
    //    with no preceding click emits NULL-padded only when the
    //    watermark proves no click can still arrive (state eviction,
    //    the Flink interval-outer contract). Both sides take their own
    //    far-future sentinel: the global watermark is the min across
    //    inputs, and the NULL tail flushes only once BOTH pass every
    //    real row. Oracle = q11's SQL as a LEFT JOIN ──
    "q222_stream_interval_outer" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events")
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"), unix_micros(col("ts")).as("__ord"))
      val c = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("c_ts"), unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max(unix_micros(col("ts")))).collect().head.getLong(0)
      val sTs = hi + 4L * 3600000000L
      val sentL = Seq(1).toDF("__x").select(lit(-1L).as("purchase_id"),
        lit(-1L).as("user_id"), timestamp_micros(lit(sTs)).as("p_ts"),
        lit(sTs).as("__ord"))
      val sentR = Seq(1).toDF("__x").select(lit(-1L).as("click_id"),
        lit(-1L).as("user_id"), timestamp_micros(lit(sTs)).as("c_ts"),
        lit(sTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend2(p, c, "__ord",
          wh + "/replay_q222_l", wh + "/replay_q222_r", slices = 4,
          queryName = "q222_oij_sink",
          sentinelL = Some(sentL), sentinelR = Some(sentR)) { (lp, rc) =>
        graft.streaming.StreamOps.intervalJoin(
            lp.drop("__ord"), rc.drop("__ord"), "user_id",
            "p_ts", "c_ts", "1 HOUR", "0 SECONDS", joinType = "left_outer")
          .select(col("purchase_id"), col("click_id"),
            col("l.user_id").as("user_id"))
      }.where(col("user_id") =!= -1L)
    }),

    // ── STREAMING GRID QUANTILES replay, DRIVER-GATED (round 12): the
    //    live p50/p90/p99 value monitor (windowedGridQuantiles) — the
    //    window's values snap to the exact micro lattice (DECIMAL cast,
    //    2-dp source round-trips exactly), state is a value-grid-
    //    bounded histogram, and each quantile is the smallest micro
    //    whose cumulative count reaches the exact integer rank
    //    ⌈p·n⌉ — integer in, integer out, no sketch error bar ──
    "q223_stream_quantile_window" -> ((s, dir) => {
      import s.implicits._
      val ev = t(s, dir, "events").select(col("ts"), col("value"),
        unix_micros(col("ts")).as("__ord"))
      val hi = ev.agg(max("__ord")).collect().head.getLong(0)
      val sentinelTs = hi + 3L * 3600000000L
      val sentinel = Seq(1).toDF("__x").select(
        timestamp_micros(lit(sentinelTs)).as("ts"), lit(0.0).as("value"),
        lit(sentinelTs).as("__ord"))
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      graft.streaming.StreamReplay.replayAppend(ev, "__ord",
          wh + "/replay_q223", slices = 5, queryName = "q223_quant_sink",
          sentinel = Some(sentinel)) { stream =>
        graft.streaming.StreamingCorpusStats.windowedGridQuantiles(stream,
          "value", "ts", "1 hour", 3600000L, "0 seconds").toDF()
      }.where(col("window_start_us") <= hi)
    }),

    // ── SAME-ID REPLACE lifecycle on the persisted IVF index
    //    (Similarity.scala § appendToIvfIndex): vec 42's embedding is
    //    replaced by vec 43's through tombstone → compact → append
    //    with the generation-1 sidecar quantizer. Target 42 is outside
    //    the deterministic bottom-16 md5 centroid sample at every SF,
    //    so the immutable quantizer equals the one a fresh build over
    //    the replaced corpus would sample — the oracle replays exactly
    //    that via a rewritten embeddings CTE ──
    "q191_ivf_replace_lifecycle" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val target = 42L
      // Engine/oracle equivalence REQUIRES the replaced id to sit outside
      // the bottom-16 md5 centroid sample (else the oracle's from-scratch
      // quantizer trains on the replaced vector while the engine's
      // generation-1 sidecar trained on the original). Data-dependent —
      // assert it at build time so a future SF dataset fails loudly here,
      // not as an opaque hash-gate mismatch. Bounded collect: 16 ids.
      val sampleIds = emb
        .orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
        .limit(16).select("vec_id").collect().map(_.getLong(0)).toSet
      require(!sampleIds.contains(target),
        s"q191 precondition violated: vec_id $target is inside the bottom-16 " +
          "md5 centroid sample for this dataset; pick a different target id " +
          "or the oracle quantizer will diverge from the engine sidecar")
      val wh = s.conf.get("spark.sql.warehouse.dir").stripSuffix("/")
      val v1 = wh + "/ivf_idx_q191_v1"
      val v2 = wh + "/ivf_idx_q191_v2"
      Similarity.buildIvfIndex(emb, "vec_id", "embedding", v1,
        nCentroids = 16)
      Similarity.compactIvfIndex(s, v1, v2,
        emb.where(col("vec_id") === target).select("vec_id"), "vec_id")
      Similarity.appendToIvfIndex(
        emb.where(col("vec_id") === target + 1)
          .select(lit(target).as("vec_id"), col("embedding")),
        "vec_id", "embedding", v2)
      Similarity.ivfKnnIndexed(s, v2, emb.where(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, nProbe = 6)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("sim"), 6).as("cos_sim"))
    }),

    // ── LSH index occupancy card: per-(band,bucket) occupancy
    //    histogram + implied candidate-pair volume (n·C(occ,2)) — the
    //    capacity-planning read that catches a hot bucket (low-entropy
    //    boilerplate hashing together) BEFORE it blows up the pair
    //    join. One combinable agg over the index, histogram-sized
    //    output ──
    "q187_lsh_bucket_stats" -> ((s, dir) =>
      s.table(sharedLshIndexTable(s, dir))
        // group on (band, RAW signature slice), not the xxhash64 bucket:
        // unlike q19/q158 (where a bucket collision only adds candidates
        // later rejected by est_jaccard) this histogram has no downstream
        // filter, so a collision would directly change the emitted
        // occupancy. The stored sig makes the exact key free — 4 hashes
        // per band (64/16), slice is 1-based, bands 0-indexed
        .groupBy(col("band"),
          slice(col("sig"), col("band") * lit(4) + lit(1), lit(4)).as("__key"))
        .agg(count(lit(1)).as("occupancy"))
        .groupBy("occupancy").agg(count(lit(1)).as("n_buckets"))
        .select(col("occupancy"), col("n_buckets"),
          // decimal(38,0) widening end-to-end (oracle: HUGEINT):
          // occ·(occ−1) wraps Long at a ~3e9-doc bucket — exactly the
          // degenerate hot bucket this card exists to surface, so the
          // count must not overflow silently on the way to the report
          (col("n_buckets").cast("decimal(38,0)") *
            graft.expressions.HashExpressions.intDiv(
              col("occupancy").cast("decimal(38,0)") * (col("occupancy") - 1),
              lit(2L)))
            .cast("long").as("cand_pairs"))),

    // ── HITS over the directed continuation graph: 4 fixed alternating
    //    phases, raw sums checkpointed before the self-referencing L2
    //    normalize; side-less nodes score 0 ──
    "q180_continuation_hits" -> ((s, dir) =>
      operators.Graph.hits(
        Dedup.continuationChains(t(s, dir, "documents"), "doc_id", "text",
          k = 3, maxFanout = 16))),

    // ── language metadata-trust matrix: one combinable scan to
    //    catalog-sized cells; shares via a cell-frame window ──
    "q179_lang_agreement" -> ((s, dir) =>
      operators.Curation.langAgreementMatrix(t(s, dir, "documents"),
        "source", "lang", "text")),

    // ── snapshot diff card: id-keyed FULL OUTER join of fingerprint
    //    projections (text never joins) → |sources| rows; snapshots
    //    simulated from the portable md5 bucket (old <90, new ≥10) ──
    "q173_corpus_diff" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val b = Sampling.md5Bucket("doc_id", 100)
      operators.Curation.corpusDiffCard(
        d.where(b < 90), d.where(b >= 10), "doc_id", "text", "source")
    }),

    // ── lead–lag cross-correlation: calendar-sized hour grid (zeros
    //    count), exact DECIMAL Pearson statistics, |lags|-row result ──
    "q172_lead_lag" -> ((s, dir) =>
      operators.Profiling.leadLagCorrelation(t(s, dir, "events"),
        "event_type", "ts", typeA = "view", typeB = "purchase", maxLag = 3)),

    // ── Kneser–Ney bigram fluency: q98's plan (cached bigram stream →
    //    (a,b) agg + join-back); continuation stats off the TYPE-sized
    //    frame; only the 1-row type total broadcasts ──
    "q171_kn_bigram_lm" -> ((s, dir) =>
      CorpusStats.knBigramLogProb(t(s, dir, "documents"), "doc_id", "text")),

    // ── continuation edges: tail(a) = head(b) equi-join on the gram,
    //    both sides fanout-capped (broadcast anti-join) — split-page /
    //    chunked-upload stitching, never a pair product ──
    "q170_continuation_chains" -> ((s, dir) =>
      Dedup.continuationChains(t(s, dir, "documents"), "doc_id", "text",
        k = 3, maxFanout = 16)),

    // ── per-label PCA drift: ONE |labels|-keyed shuffle of constant-
    //    size Gram sketches (global = their merge); eigen math driver-
    //    side; |cos| alignment is sign-invariant ──
    "q169_label_pca_drift" -> ((s, dir) =>
      Similarity.labelPrincipalAlignment(t(s, dir, "embeddings"), "label",
        "embedding", dim = 64, iters = 8)),

    // ── PCA-residual outliers: spectrum from the one-pass sketch; μ +
    //    components ride a second scan as a codegen kernel; TakeOrdered
    //    top-N on the ROUNDED residual (boundary-stable, id tiebreak) ──
    "q168_pca_residual" -> ((s, dir) =>
      Similarity.pcaResidualOutliers(t(s, dir, "embeddings"), "vec_id",
        "embedding", dim = 64, nComponents = 4, iters = 8, topN = 50)),

    // ── principal spectrum: q166's sketch + driver-side deflation —
    //    still ONE corpus scan; variance-explained curve for
    //    truncation/JL/PQ sizing decisions ──
    "q167_principal_spectrum" -> ((s, dir) =>
      Similarity.principalSpectrum(t(s, dir, "embeddings"), "embedding",
        dim = 64, nComponents = 4, iters = 8)),

    // ── DoReMi-style multiplicative-weights domain reweighting: one
    //    corpus scan → |domains|-row frame, bounded driver iteration
    //    (+,−,×,÷ only — engine-portable); exact micro mean-loss ──
    "q165_domain_reweight" -> ((s, dir) =>
      Sampling.domainReweightMW(t(s, dir, "documents"), "source",
        TextAnalysis.tokenCount(col("text")))),

    // ── per-day entity novelty: first-seen via a keyed min-window on
    //    the (key, day) presence frame (state = |entities|, never
    //    |events|); shares in exact half-up micro-units ──
    "q164_novelty_timeline" -> ((s, dir) =>
      operators.Profiling.noveltyTimeline(t(s, dir, "events"),
        "user_id", "ts", "event_type")),

    // ── lexical diversity: one cached tokenize feeds both gram
    //    orders; (source, gram) pre-aggs de-skew; |sources|-row join ──
    "q128_lexical_diversity" -> ((s, dir) =>
      CorpusStats.lexicalDiversity(t(s, dir, "documents"), "text")),

    // ── PII density rollup: the q79 kernel on one scan → |sources|
    //    rows; any-match rate in exact half-up micro ──
    "q127_pii_density" -> ((s, dir) =>
      operators.Curation.piiDensityBySource(t(s, dir, "documents"), "text")),

    // ── shard balance: one combinable shuffle to |shards| rows + a
    //    1-row broadcast total; md5-bucket assignment, micro shares ──
    "q126_shard_balance" -> ((s, dir) =>
      Sampling.shardBalance(t(s, dir, "documents"), "doc_id", "text",
        shards = 32)),

    // ── packing efficiency: one scan, per-L explosion straight into a
    //    combinable |seqLens|-row agg; all-integer padding math ──
    "q125_packing_efficiency" -> ((s, dir) =>
      operators.Chunking.packingEfficiency(t(s, dir, "documents"), "text")),

    // ── BPE merge candidates: the pair agg runs on the vocab-bounded
    //    (token, count) frame, never the corpus token stream; rank
    //    window on the pre-limited top-k ──
    "q124_bpe_merges" -> ((s, dir) =>
      CorpusStats.bpeMergeCandidates(t(s, dir, "documents"), "doc_id",
        "text", topK = 30)),

    // ── LSH recall eval: the exact-Jaccard truth leg vs the sketch
    //    candidate leg, joined on the pair key — the text-path twin of
    //    q60's ANN recall ──
    "q123_lsh_recall" -> ((s, dir) =>
      operators.Dedup.lshJaccardRecall(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        maxShingleFreq = Some(1000),
        candPairsIn = Some(sharedDupPairs(s, dir)))),

    // ── quality-aware dedup representatives: the cluster label frame
    //    (ids only) joins the quality kernel; exact-integer quality
    //    rank — who actually survives each cluster ──
    "q122_quality_reps" -> ((s, dir) =>
      operators.Dedup.qualityRepresentatives(t(s, dir, "documents"), "doc_id",
        "text", shingleN = 3, numHashes = 64, bands = 16, minJaccard = 0.8,
        clustersIn = Some(sharedDupClusters(s, dir)))),

    // ── PQ + exact re-rank (IVFADC+R): the ADC shortlist broadcasts
    //    back onto the corpus scan for full-precision re-scoring —
    //    full vectors touched only for |queries|·shortlist rows ──
    "q88_pq_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.pqRerankSearch(emb, emb.where(col("vec_id") < 5),
        "vec_id", "embedding", k = 10, shortlist = 50, m = 8, ks = 16)
    }),

    // ── multimodal resize: nearest-neighbor byte-grid downsample to
    //    32×32 — integer source indices make even the STUB kernel's
    //    sampled bytes oracle-exact (checksummed) ──
    "q75_media_resize" -> ((s, dir) => {
      import s.implicits._
      // ASCII-only docs (byte length == char length): the oracle reads
      // CHARACTER codepoints (ord/substr) while the engine samples
      // UTF-8 BYTES — identical only on ASCII, so the invariant is
      // enforced structurally on BOTH sides rather than assumed of the
      // fixture (a single multibyte char at another SF would otherwise
      // silently flip the hash)
      val ascii = t(s, dir, "documents")
        .where(octet_length(col("text")) === length(col("text")))
      val media = operators.Multimodal.asMedia(ascii, "doc_id", "text")
      operators.Multimodal.resizeStub(media, newW = 32, newH = 32).map { r =>
        var sum = 0L
        var i = 0
        while (i < r.content.length) { sum += (r.content(i) & 0xFF); i += 1 }
        (r.id, r.width, r.height, r.content.length, sum)
      }.toDF("id", "out_w", "out_h", "n_bytes_out", "byte_sum")
    })) ++ runnerGates.map { case (name, gate) =>
      name -> ((s: SparkSession, dir: String) => runGate(s, name, gate(s, dir)))
    }

  /** The runner gates: each entry builds its
    * [[RunnerGate]] value, and [[queries]] runs it through
    * [[runGate]]. */
  private[graft] def runnerGates: Map[String, (SparkSession, String) => RunnerGate] = Map(

    // ── STREAMING UPSERT through the STATEMENT RUNNER, DRIVER-GATED
    //    (round 12): the reference's S1 shape end-to-end — JSON topic
    //    feed, registered source, CREATE TABLE with PRIMARY KEY,
    //    long-running INSERT — with events replayed in 4 event-time
    //    epochs. Each epoch carries at most one row per key (its
    //    max-(ts, event_id) row), so arrival order is deterministic and
    //    the final materialized state equals the batch latest-per-key
    //    oracle (q05's SQL) ──
    "q202_stream_upsert_runner" -> ((s, dir) => s1Upsert(s, dir, "q202")),

    // ── SOURCE-SIDE TOMBSTONE path through the STATEMENT RUNNER,
    //    DRIVER-GATED (round 12): the compacted-topic DELETE contract
    //    end-to-end — an INSERT whose select tags 'error' events
    //    `__op = '-D'` writes null-value tombstones to the PK table's
    //    topic (Topics.appendJson keyed encode), and the materialized
    //    view folds latest-by-offset FIRST, tombstone-filter AFTER, so
    //    a user whose LAST event is an error disappears (and a later
    //    non-error event resurrects the key). Epochs are event-time
    //    slices reduced to one row per key (q202's determinism trick),
    //    so arrival order = (ts, event_id) order and the final state
    //    equals the batch last-event-wins oracle ──
    "q210_stream_tombstone_runner" -> ((s, dir) => {
      val ev = events(s, dir, quarter = false)
      RunnerGate(Seq("events_feed_q210" -> EventDdl), """
        CREATE TABLE user_live_q210 (
          user_id BIGINT, last_event_id BIGINT, last_value DOUBLE, ts_us BIGINT,
          __op STRING,
          PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
        INSERT INTO user_live_q210
        SELECT user_id, event_id, value, ts_us,
          CASE WHEN event_type = 'error' THEN '-D' ELSE '+U' END
        FROM events_feed_q210""",
        ev, epochs = 4, upsertFeed("events_feed_q210", ev, EventCols: _*),
        Project("user_live_q210", col("user_id"), col("last_event_id"),
          col("last_value"), col("ts_us")))
    }),

    // ── CHECKPOINTED RESTART of the long-running INSERT path, DRIVER-
    //    GATED (round 13, VERDICT r12 item 1): q202's S1 pipeline with
    //    the runner KILLED after epoch 2 and a NEW runner resumed on
    //    the same topics + checkpoints (same script re-run, the
    //    reference's re-applied-statement contract). The checkpoint
    //    keeps the restarted source from re-reading epochs 1–2 and the
    //    epoch-idempotent sink keeps any replayed batch from
    //    double-appending, so the final materialized state equals the
    //    uninterrupted batch oracle (q202's SQL) ──
    "q224_stream_restart_runner" -> ((s, dir) =>
      s1Upsert(s, dir, "q224", restartAfter = Some(2))),

    // ── TABLE-TO-TABLE CONTINUOUS INSERT, DRIVER-GATED (round 13):
    //    statement B's FROM references only statement A's table, so the
    //    runner PROMOTES A to its changelog stream — B receives every
    //    per-epoch upsert revision exactly once. With the feed split
    //    into 4 event-time quartile epochs (each pre-folded to its
    //    max-(ts, event_id) row per key), B's content IS the per-
    //    (epoch, user) folded row set, which the oracle reproduces by
    //    re-deriving the integer epoch boundaries ──
    "q225_stream_chained_insert" -> ((s, dir) =>
      s1Upsert(s, dir, "q225", chained = true)),

    // ── AGGREGATE over a promoted APPEND driver, DRIVER-GATED: an
    //    append table is a true insert stream, so the continuous
    //    GROUP BY runs as NATIVE streaming aggregation (no retraction
    //    machinery — contrast q227/q228, whose changelog drivers fold
    //    signed revisions), revising per-key counts in update mode and
    //    landing on the batch aggregate.
    //    Raw events flow unfolded through 4 epochs so the count
    //    genuinely accumulates cross-batch state ──
    "q226_stream_promoted_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_raw_q226" -> "user_id BIGINT, event_id BIGINT, ts_us BIGINT"), """
          CREATE TABLE events_log_q226 (user_id BIGINT, event_id BIGINT, ts_us BIGINT);
          INSERT INTO events_log_q226 SELECT user_id, event_id, ts_us FROM events_raw_q226;
          CREATE TABLE user_counts_q226 (user_id BIGINT, n_events BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_counts_q226
          SELECT user_id, count(*) AS n_events FROM events_log_q226 GROUP BY user_id""",
        ev, epochs = 4,
        e => i => Seq("events_raw_q226" -> e.slice(ev, i).select("user_id", "event_id", "ts_us")),
        Project("user_counts_q226", col("user_id"), col("n_events")))
    }),

    // ── RETRACTION-AWARE AGGREGATE over an UPSERT changelog driver,
    //    DRIVER-GATED (round 14, VERDICT r13 item 1 — the Flink
    //    semantic the reference's aggregation lab runs first:
    //    GROUP BY over shoe_customers_keyed,
    //    terraform/lab-aggregations/main.tf:396,431): the S1 pipeline
    //    revises user_latest per epoch; the chained aggregate folds
    //    each revision as retract-prior + add-new (ChangelogNormalize
    //    → RetractAggRewrite), so a user whose latest event_type
    //    changes MOVES between groups. Final state = the aggregate
    //    over batch latest-per-key — a revision-counting aggregate
    //    would disagree on every re-keyed user ──
    "q227_stream_retract_agg_upsert" -> ((s, dir) => {
      val ev = events(s, dir, quarter = false)
      RunnerGate(Seq("events_feed_q227" -> EventDdl), """
          CREATE TABLE user_latest_q227 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
            last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q227
          SELECT user_id, event_id, event_type, value, ts_us FROM events_feed_q227;
          CREATE TABLE type_stats_q227 (event_type STRING, n_users BIGINT,
            sum_value DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_stats_q227
          SELECT last_event_type, count(*) AS n_users,
                 CAST(sum(CAST(last_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM user_latest_q227 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q227", ev, EventCols: _*),
        Project("type_stats_q227", col("event_type"), col("n_users"), col("sum_value")))
    }),

    // ── RETRACT-MODE topic consumed by a chained aggregate, DRIVER-
    //    GATED (round 14, VERDICT r13 item 3 — S5's
    //    changelog.mode=retract, lab-aggregations/main.tf:530): the
    //    per-user revision chain rides the topic as EXPLICIT -U/+U
    //    pairs; the chained statement folds the __op tag as the sign
    //    channel (no normalize state needed). Final aggregate state =
    //    the batch aggregate over each user's last revision ──
    "q228_stream_retract_consume" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("rev_feed_q228" ->
          "user_id BIGINT, event_id BIGINT, event_type STRING, value DOUBLE, ts_us BIGINT, __op STRING"), """
          CREATE TABLE rev_log_q228 (user_id BIGINT, event_id BIGINT,
            event_type STRING, value DOUBLE, ts_us BIGINT, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO rev_log_q228
          SELECT user_id, event_id, event_type, value, ts_us, __op FROM rev_feed_q228;
          CREATE TABLE type_stats_q228 (event_type STRING, n_rows BIGINT,
            sum_value DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_stats_q228
          SELECT event_type, count(*) AS n_rows,
                 CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM rev_log_q228 GROUP BY event_type""",
        ev, epochs = 4, e => {
          // per-(epoch, user) fold, then the EXPLICIT retract chain: the
          // first revision of a user is +I; each later one emits -U with
          // the PRIOR epoch-fold's full row, then +U with its own
          // integral div (not `/`, which is double division and can round a
          // boundary timestamp into the adjacent epoch); operands non-negative
          val folded = ev
            .withColumn("ep", expr(s"(ts_us - ${e.lo}L) div ${e.width}L"))
            .groupBy(col("ep"), col("user_id"))
            .agg(max_by(struct(col("event_id"), col("event_type"), col("value"),
              col("ts_us")), struct(col("ts_us"), col("event_id"))).as("__l"))
            .select(col("ep"), col("user_id"), col("__l.event_id"),
              col("__l.event_type"), col("__l.value"), col("__l.ts_us"))
          val w = Window.partitionBy(col("user_id")).orderBy(col("ep"))
          val chained = folded
            .withColumn("p_event_id", lag(col("event_id"), 1).over(w))
            .withColumn("p_event_type", lag(col("event_type"), 1).over(w))
            .withColumn("p_value", lag(col("value"), 1).over(w))
            .withColumn("p_ts_us", lag(col("ts_us"), 1).over(w))
            .localCheckpoint() // 4 epoch filters below re-scan this frame
          i => {
            val cur = chained.where(col("ep") === i)
            val adds = cur.select(col("user_id"), col("event_id"), col("event_type"),
              col("value"), col("ts_us"),
              when(col("p_event_id").isNull, lit("+I")).otherwise(lit("+U")).as("__op"))
            val retracts = cur.where(col("p_event_id").isNotNull)
              .select(col("user_id"), col("p_event_id").as("event_id"),
                col("p_event_type").as("event_type"), col("p_value").as("value"),
                col("p_ts_us").as("ts_us"), lit("-U").as("__op"))
            Seq("rev_feed_q228" -> adds.unionByName(retracts))
          }
        },
        Project("type_stats_q228", col("event_type"), col("n_rows"), col("sum_value")))
    }),

    // ── MERGE-ON-WRITE AGGREGATE over a SNAPSHOT JOIN, DRIVER-GATED
    //    (round 14): `stream JOIN dim GROUP BY` — the shape that used
    //    to reject ("batch-local partial aggregates") — now folds
    //    continuously: each epoch's signed deltas cross the snapshot
    //    join and merge onto the target topic's prior state (offset-
    //    filtered to earlier epochs, replay-idempotent). Final state
    //    must equal the batch join + aggregate ──
    "q229_stream_merge_join_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .createOrReplaceTempView("cust_dim_q229")
      RunnerGate(Seq("events_raw_q229" ->
          "user_id BIGINT, event_id BIGINT, ts_us BIGINT, value DOUBLE"), """
          CREATE TABLE seg_stats_q229 (segment STRING, n_events BIGINT,
            sum_value DOUBLE,
            PRIMARY KEY (segment) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO seg_stats_q229
          SELECT c.c_mktsegment, count(*) AS n_events,
                 CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM events_raw_q229 e JOIN cust_dim_q229 c ON e.user_id = c.c_custkey
          GROUP BY c.c_mktsegment""",
        ev, epochs = 4, e => i => Seq("events_raw_q229" ->
          e.slice(ev, i).select("user_id", "event_id", "ts_us", "value")),
        Project("seg_stats_q229", col("segment"), col("n_events"), col("sum_value")))
    }),

    // ── MERGE AGGREGATE over a PROMOTED UPSERT DRIVER + dim join,
    //    DRIVER-GATED (round 14): the hardest changelog shape — each
    //    per-epoch revision of user_latest RETRACTS its prior
    //    contribution from the joined group and adds the new one, so a
    //    user whose latest value changes revises their segment's sum
    //    in place. Final state must equal batch latest-per-key ⋈ dim ⋈
    //    aggregate ──
    "q230_stream_merge_upsert_join_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      t(s, dir, "customer").select(col("c_custkey"), col("c_mktsegment"))
        .createOrReplaceTempView("cust_dim_q230")
      RunnerGate(Seq("events_feed_q230" ->
          "user_id BIGINT, event_id BIGINT, value DOUBLE, ts_us BIGINT"), """
          CREATE TABLE user_latest_q230 (
            user_id BIGINT, last_event_id BIGINT, last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q230
          SELECT user_id, event_id, value, ts_us FROM events_feed_q230;
          CREATE TABLE seg_latest_q230 (segment STRING, n_users BIGINT,
            sum_last DOUBLE,
            PRIMARY KEY (segment) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO seg_latest_q230
          SELECT c.c_mktsegment, count(*) AS n_users,
                 CAST(sum(CAST(u.last_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_last
          FROM user_latest_q230 u JOIN cust_dim_q230 c ON u.user_id = c.c_custkey
          GROUP BY c.c_mktsegment""",
        ev, epochs = 4, upsertFeed("events_feed_q230", ev, "event_id", "value", "ts_us"),
        Project("seg_latest_q230", col("segment"), col("n_users"), col("sum_last")))
    }),

    // ── RETRACTABLE MIN/MAX + EXACT DISTINCT over an upsert changelog
    //    driver, DRIVER-GATED (round 14): the per-(group, value)
    //    multiset helpers — each revision retracts its old value from
    //    the multiset; retracting the current extreme forces a
    //    recompute from the remaining values, and a duplicated
    //    distinct value survives until its last holder leaves. Final
    //    state must equal the batch latest-per-key aggregate ──
    "q231_stream_retract_minmax_distinct" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q231" -> EventDdl), """
          CREATE TABLE user_latest_q231 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
            last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q231
          SELECT user_id, event_id, event_type, value, ts_us FROM events_feed_q231;
          CREATE TABLE type_extremes_q231 (event_type STRING, n_users BIGINT,
            min_value DOUBLE, max_value DOUBLE, n_buckets BIGINT,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_extremes_q231
          SELECT last_event_type, count(*) AS n_users,
                 min(last_value) AS min_value, max(last_value) AS max_value,
                 count(DISTINCT user_id % 16) AS n_buckets
          FROM user_latest_q231 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q231", ev, EventCols: _*),
        Project("type_extremes_q231", col("event_type"), col("n_users"),
          col("min_value"), col("max_value"), col("n_buckets")))
    }),

    // ── HAVING over a retract-folded continuous aggregate, DRIVER-
    //    GATED (round 14): the predicate re-evaluates as revisions
    //    fold, and a group whose predicate stops holding is DELETED
    //    downstream. `count(*) % 2 = 0` flips as per-type counts grow
    //    across the 4 epochs, so groups genuinely enter AND leave the
    //    table mid-stream; the final state equals the batch
    //    latest-per-key aggregate under the same HAVING ──
    "q232_stream_retract_agg_having" -> ((s, dir) => {
      val ev = events(s, dir, quarter = false)
      RunnerGate(Seq("events_feed_q232" -> EventDdl), """
          CREATE TABLE user_latest_q232 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
            last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q232
          SELECT user_id, event_id, event_type, value, ts_us FROM events_feed_q232;
          CREATE TABLE even_types_q232 (event_type STRING, n_users BIGINT,
            sum_value DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO even_types_q232
          SELECT last_event_type, count(*) AS n_users,
                 CAST(sum(CAST(last_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM user_latest_q232 GROUP BY last_event_type
          HAVING count(*) % 2 = 0""",
        ev, epochs = 4, upsertFeed("events_feed_q232", ev, EventCols: _*),
        Project("even_types_q232", col("event_type"), col("n_users"), col("sum_value")))
    }),

    // ── MULTI-LEVEL CONTINUOUS AGGREGATE, DRIVER-GATED (round 15,
    //    VERDICT r14 item 2 — the lab-aggregations chain one level
    //    deeper): statement A MERGE-aggregates (retractable max + a
    //    HAVING whose verdict flips across epochs) into an upsert
    //    table whose topic records carry hidden raws/__net/__keep;
    //    statement B retract-folds over A's CHANGELOG — extra value
    //    fields must stay invisible and a __keep=false state record
    //    must retract the group downstream exactly as the batch view
    //    hides it. Final state = the batch two-level aggregate ──
    "q233_stream_multilevel_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q233" -> EventDdl), """
          CREATE TABLE user_latest_q233 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
            last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q233
          SELECT user_id, event_id, event_type, value, ts_us FROM events_feed_q233;
          CREATE TABLE type_stats_q233 (event_type STRING, n_users BIGINT,
            max_value DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_stats_q233
          SELECT last_event_type, count(*) AS n_users, max(last_value) AS max_value
          FROM user_latest_q233 GROUP BY last_event_type
          HAVING count(*) % 2 = 0;
          CREATE TABLE parity_stats_q233 (bucket BIGINT, n_types BIGINT,
            sum_max DOUBLE,
            PRIMARY KEY (bucket) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO parity_stats_q233
          SELECT CAST(n_users % 3 AS BIGINT) AS bucket, count(*) AS n_types,
                 CAST(sum(CAST(max_value AS DECIMAL(18,4))) AS DOUBLE) AS sum_max
          FROM type_stats_q233 GROUP BY CAST(n_users % 3 AS BIGINT)""",
        ev, epochs = 4, upsertFeed("events_feed_q233", ev, EventCols: _*),
        Project("parity_stats_q233", col("bucket"), col("n_types"), col("sum_max")))
    }),

    // ── ARGMAX/ARGMIN + MULTI-COLUMN DISTINCT over an upsert changelog
    //    driver, DRIVER-GATED (round 15, VERDICT r14 item 3 — the last
    //    "Flink runs this, we refuse" shapes): max_by/min_by fold as
    //    (order, value) multisets, so a revision that moves the argmax
    //    HOLDER out of a group recomputes from the remaining pairs;
    //    count(DISTINCT a, b) keeps a struct-keyed multiset. user_id
    //    as the order key makes the argmax deterministic (unique per
    //    group by construction). Final state = the batch
    //    latest-per-key aggregate ──
    "q234_stream_argmax_distinct" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q234" -> EventDdl), """
          CREATE TABLE user_latest_q234 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
            last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q234
          SELECT user_id, event_id, event_type, value, ts_us FROM events_feed_q234;
          CREATE TABLE type_tops_q234 (event_type STRING, n_users BIGINT,
            top_value DOUBLE, bot_value DOUBLE, n_pairs BIGINT,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_tops_q234
          SELECT last_event_type, count(*) AS n_users,
                 max_by(last_value, user_id) AS top_value,
                 min_by(last_value, user_id) AS bot_value,
                 count(DISTINCT user_id % 8, user_id % 3) AS n_pairs
          FROM user_latest_q234 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q234", ev, EventCols: _*),
        Project("type_tops_q234", col("event_type"), col("n_users"),
          col("top_value"), col("bot_value"), col("n_pairs")))
    }),

    // ── VARIANCE FAMILY + BOOL_AND/BOOL_OR + RETRACTABLE LISTAGG over
    //    an upsert changelog driver, DRIVER-GATED (round 15): variance
    //    folds by EXACT DECIMAL MOMENTS (n, Σ±x, Σ±x²) with the pinned
    //    double closed form mirrored verbatim in the oracle (the
    //    CLAUDE.md iterative-float rule); bool_and/bool_or fold as
    //    boolean order statistics through the value multiset; listagg
    //    recomputes the sorted distinct set per touched group. One
    //    statement exercises raws + two multisets together ──
    "q235_stream_variance_bool_listagg" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q235" -> EventDdl), """
          CREATE TABLE user_latest_q235 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING,
            last_value DOUBLE, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q235
          SELECT user_id, event_id, event_type, value, ts_us FROM events_feed_q235;
          CREATE TABLE type_spread_q235 (event_type STRING, n_users BIGINT,
            var_s DOUBLE, std_p DOUBLE, cov_vu DOUBLE, corr_vu DOUBLE,
            n_big BIGINT, all_small BOOLEAN, any_big BOOLEAN,
            buckets STRING,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_spread_q235
          SELECT last_event_type, count(*) AS n_users,
                 round(var_samp(CAST(last_value AS DECIMAL(18,4))), 6) AS var_s,
                 round(stddev_pop(CAST(last_value AS DECIMAL(18,4))), 6) AS std_p,
                 round(covar_samp(CAST(last_value AS DECIMAL(18,4)),
                                  CAST(user_id AS DECIMAL(18,0))), 6) AS cov_vu,
                 round(corr(CAST(last_value AS DECIMAL(18,4)),
                            CAST(user_id AS DECIMAL(18,0))), 6) AS corr_vu,
                 count_if(last_value > 100.0) AS n_big,
                 bool_and(last_value < 300.0) AS all_small,
                 bool_or(last_value > 300.0) AS any_big,
                 listagg(DISTINCT CAST(user_id % 5 AS STRING), ',')
                   WITHIN GROUP (ORDER BY CAST(user_id % 5 AS STRING)) AS buckets
          FROM user_latest_q235 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q235", ev, EventCols: _*),
        Project("type_spread_q235", col("event_type"), col("n_users"),
          col("var_s"), col("std_p"), col("cov_vu"), col("corr_vu"),
          col("n_big"), col("all_small"), col("any_big"), col("buckets")))
    }),

    // ── FLINK REGULAR JOIN into a RETRACT target, DRIVER-GATED
    //    (round 16, VERDICT r15 item 1 — the reference's S6:
    //    shoe_orders_enriched is changelog.mode='retract',
    //    lab-aggregations/main.tf:530, BECAUSE the regular join :563
    //    retracts + re-emits previously-joined rows when a dimension
    //    revises): facts stream in per epoch; the per-user dim revises
    //    across epochs; past enrichments must NOT freeze — the folded
    //    net state equals the batch join of ALL facts against FINAL
    //    dim state (for every fact, not just post-revision ones) ──
    "q236_stream_regular_join" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "dim_feed_q236" -> "user_id BIGINT, event_type STRING",
          "orders_feed_q236" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q236 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q236 SELECT user_id, event_type FROM dim_feed_q236;
          CREATE TABLE enriched_q236 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q236 (event_id, user_id, last_event_type, value)
          SELECT o.event_id, o.user_id, c.last_event_type, o.value
          FROM orders_feed_q236 o JOIN user_dim_q236 c ON o.user_id = c.user_id""",
        ev, epochs = 4, e => i => {
          // dim slice FIRST (per-user latest within the epoch — revising
          // users force re-emission of their already-joined facts), then
          // the epoch's facts join the revised state
          val slice = e.slice(ev, i)
          Seq("dim_feed_q236" -> latestPerUser(slice, "event_type"),
            "orders_feed_q236" -> slice.select("event_id", "user_id", "value"))
        },
        RetractNet("enriched_q236", "event_id", "user_id", "last_event_type", "value"))
    }),

    // ── RETRACTABLE COLLECT over an upsert changelog driver, DRIVER-
    //    GATED (round 16, VERDICT r15 item 3 — the rejection list
    //    shrinks to exact percentile only): collect_set emits the
    //    multiset's live DISTINCT values, collect_list every live
    //    copy, both value-sorted (Flink's retractable COLLECT keeps
    //    the same per-(group, value) count state). Arrays ride to the
    //    oracle as joined strings — the driver hash has no LIST-type
    //    parity contract (the q57 HUGEINT lesson: never gate on a
    //    novel output type class); ValueSetAggSpec asserts the true
    //    array emission ──
    "q237_stream_collect_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q237" -> "user_id BIGINT, event_type STRING, value DOUBLE"), """
          CREATE TABLE user_latest_q237 (
            user_id BIGINT, last_event_type STRING, last_value DOUBLE,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q237
          SELECT user_id, event_type, value FROM events_feed_q237;
          CREATE TABLE bucket_collect_q237 (bucket BIGINT, n_users BIGINT,
            types STRING, septets STRING,
            PRIMARY KEY (bucket) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO bucket_collect_q237
          SELECT CAST(user_id % 41 AS BIGINT) AS bucket, count(*) AS n_users,
                 array_join(collect_set(last_event_type), ',') AS types,
                 array_join(collect_list(CAST(user_id % 7 AS STRING)), ',') AS septets
          FROM user_latest_q237 GROUP BY CAST(user_id % 41 AS BIGINT)""",
        ev, epochs = 4, upsertFeed("events_feed_q237", ev, "event_type", "value"),
        Project("bucket_collect_q237", col("bucket"), col("n_users"),
          col("types"), col("septets")))
    }),

    // ── THREE-LEVEL CONTINUOUS AGGREGATE CHAIN, DRIVER-GATED (round
    //    16, VERDICT r15 item 5 — q233 one level deeper, promoting the
    //    round-15 composition spec): merge-agg (retractable max) →
    //    retract-fold → retract-fold. Every revision at the bottom can
    //    ripple THREE changelog hops; integer-only aggregates above
    //    level 2 (a re-derived double must never re-enter DECIMAL —
    //    the CLAUDE.md money rule) ──
    "q238_stream_three_level_agg" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q238" -> "user_id BIGINT, event_type STRING, value DOUBLE"), """
          CREATE TABLE user_latest_q238 (
            user_id BIGINT, last_event_type STRING, last_value DOUBLE,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q238
          SELECT user_id, event_type, value FROM events_feed_q238;
          CREATE TABLE type_stats_q238 (event_type STRING, n_users BIGINT,
            max_value DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_stats_q238
          SELECT last_event_type, count(*) AS n_users, max(last_value) AS max_value
          FROM user_latest_q238 GROUP BY last_event_type;
          CREATE TABLE parity_q238 (bucket BIGINT, n_types BIGINT, sum_users BIGINT,
            PRIMARY KEY (bucket) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO parity_q238
          SELECT CAST(n_users % 3 AS BIGINT) AS bucket, count(*) AS n_types,
                 CAST(sum(n_users) AS BIGINT) AS sum_users
          FROM type_stats_q238 GROUP BY CAST(n_users % 3 AS BIGINT);
          CREATE TABLE grand_q238 (par BIGINT, n_buckets BIGINT, total BIGINT,
            PRIMARY KEY (par) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO grand_q238
          SELECT CAST(n_types % 2 AS BIGINT) AS par, count(*) AS n_buckets,
                 CAST(sum(sum_users) AS BIGINT) AS total
          FROM parity_q238 GROUP BY CAST(n_types % 2 AS BIGINT)""",
        ev, epochs = 4, upsertFeed("events_feed_q238", ev, "event_type", "value"),
        Project("grand_q238", col("par"), col("n_buckets"), col("total")))
    }),

    // ── TUMBLE TVF THROUGH THE MULTISET MERGE PATH, DRIVER-GATED
    //    (round 16, VERDICT r15 item 5 — promoting the round-15
    //    composition spec): the TVF rewrite's star subquery carries
    //    the upsert driver's sign AND the windowed group keys into the
    //    merge path, where max folds as a (window, value) multiset —
    //    revising a user's latest event time MOVES its value between
    //    windows and both windows' max recompute retraction-aware ──
    "q239_stream_tumble_multiset" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q239" -> "user_id BIGINT, ts TIMESTAMP, value DOUBLE"), """
          CREATE TABLE user_latest_q239 (
            user_id BIGINT, ts TIMESTAMP, last_value DOUBLE,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q239
          SELECT user_id, ts, value FROM events_feed_q239;
          CREATE TABLE hourly_q239 (window_start TIMESTAMP, n_users BIGINT,
            max_value DOUBLE,
            PRIMARY KEY (window_start) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO hourly_q239
          SELECT window_start, count(*) AS n_users, max(last_value) AS max_value
          FROM TABLE(TUMBLE(TABLE user_latest_q239, DESCRIPTOR(ts), INTERVAL '1' HOUR))
          GROUP BY window_start""",
        ev, epochs = 4, upsertFeed("events_feed_q239", ev, "ts", "value"),
        Project("hourly_q239", unix_micros(col("window_start")).as("window_start_us"),
          col("n_users"), col("max_value")))
    }),

    // ── LEFT OUTER REGULAR JOIN into a RETRACT target, DRIVER-GATED
    //    (round 16): only a quarter of the fact users ever get a dim
    //    row, and facts arrive BEFORE their epoch's dim slice — so
    //    null-padded rows are emitted, then RETRACTED when the match
    //    lands (Flink's outer-join state view), and matched rows
    //    re-enrich on every later revision. Folded net state = the
    //    batch LEFT JOIN of ALL facts against FINAL dim state ──
    "q240_stream_left_outer_join" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "dim_feed_q240" -> "user_id BIGINT, event_type STRING",
          "orders_feed_q240" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q240 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q240 SELECT user_id, event_type FROM dim_feed_q240;
          CREATE TABLE enriched_q240 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q240 (event_id, user_id, last_event_type, value)
          SELECT o.event_id, o.user_id, c.last_event_type, o.value
          FROM orders_feed_q240 o LEFT JOIN user_dim_q240 c ON o.user_id = c.user_id""",
        ev, epochs = 4, e => i => {
          // facts FIRST: new facts of dim-covered users pad until their
          // epoch's dim slice lands — the pad-retract transition is
          // exercised every epoch, not just at the start
          val slice = e.slice(ev, i)
          Seq("orders_feed_q240" -> slice.select("event_id", "user_id", "value"),
            "dim_feed_q240" -> latestPerUser(
              slice.where(pmod(col("user_id"), lit(8)) === 0), "event_type"))
        },
        RetractNet("enriched_q240", "event_id", "user_id", "last_event_type", "value"))
    }),

    // ── FULL OUTER REGULAR JOIN, DRIVER-GATED (round 16): BOTH sides
    //    pad — facts of never-dimmed users null-pad on the left, dim
    //    rows of factless users (user_id % 8 = 1 never passes the
    //    fact filter) null-pad on the right, and each pad retracts
    //    the moment the other side produces a match. Folded net state
    //    = the batch FULL JOIN over final inputs ──
    "q241_stream_full_outer_join" -> ((s, dir) => {
      val evAll = events(s, dir, quarter = false)
      val facts = evAll.where(pmod(col("user_id"), lit(4)) === 0)
      val dimsSrc = evAll.where(pmod(col("user_id"), lit(8)).isin(0L, 1L))
      RunnerGate(Seq(
          "dim_feed_q241" -> "user_id BIGINT, event_type STRING",
          "orders_feed_q241" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q241 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q241 SELECT user_id, event_type FROM dim_feed_q241;
          CREATE TABLE enriched_q241 (event_id BIGINT, fact_user BIGINT,
            dim_user BIGINT, last_event_type STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q241 (event_id, fact_user, dim_user, last_event_type, value)
          SELECT o.event_id, o.user_id, c.user_id, c.last_event_type, o.value
          FROM orders_feed_q241 o FULL JOIN user_dim_q241 c ON o.user_id = c.user_id""",
        // epoch bounds over ALL events: the dim side spans users the
        // fact filter excludes, and a dim row outside the facts' ts
        // range must still reach its slice
        evAll, epochs = 4, e => i => Seq(
          "orders_feed_q241" -> e.slice(facts, i).select("event_id", "user_id", "value"),
          "dim_feed_q241" -> latestPerUser(e.slice(dimsSrc, i), "event_type")),
        RetractNet("enriched_q241", "event_id", "fact_user", "dim_user",
          "last_event_type", "value"))
    }),

    // ── REGULAR JOIN → CONTINUOUS AGGREGATE chain, DRIVER-GATED
    //    (round 16): the join's -D/+I records drive a downstream
    //    retract-folded GROUP BY — every dim revision MOVES the
    //    re-enriched rows' contributions between groups, and a group
    //    whose rows all retract is deleted. The full lab-aggregations
    //    pipeline shape with the true regular join in the middle ──
    "q242_stream_join_agg_chain" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "dim_feed_q242" -> "user_id BIGINT, event_type STRING",
          "orders_feed_q242" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q242 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q242 SELECT user_id, event_type FROM dim_feed_q242;
          CREATE TABLE enriched_q242 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, value DOUBLE)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q242
          SELECT o.event_id, o.user_id, c.last_event_type, o.value
          FROM orders_feed_q242 o JOIN user_dim_q242 c ON o.user_id = c.user_id;
          CREATE TABLE type_stats_q242 (last_event_type STRING, n_rows BIGINT,
            sum_value DOUBLE,
            PRIMARY KEY (last_event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_stats_q242
          SELECT last_event_type, count(*) AS n_rows,
                 CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
          FROM enriched_q242 GROUP BY last_event_type""",
        ev, epochs = 4, e => i => {
          val slice = e.slice(ev, i)
          Seq("dim_feed_q242" -> latestPerUser(slice, "event_type"),
            "orders_feed_q242" -> slice.select("event_id", "user_id", "value"))
        },
        Project("type_stats_q242", col("last_event_type"), col("n_rows"), col("sum_value")))
    }),

    // ── STREAMING DECONTAMINATION against a REVISABLE blocklist,
    //    DRIVER-GATED (round 16): `WHERE NOT EXISTS (blocklist)` into
    //    a retract target — blocking a user RETRACTS its already-kept
    //    rows, unblocking RE-ADMITS them (the brute pre/post diff over
    //    fact state), fresh rows evaluate at current blocklist state.
    //    The LLM-pipeline shape: a takedown/GDPR list that changes
    //    while the corpus streams. Final net state = the batch NOT
    //    EXISTS against the FINAL blocklist ──
    "q243_stream_blocklist_decontam" -> ((s, dir) => {
      val ev = events(s, dir)
      val users = ev.select("user_id").distinct()
      def blockOps(i: Int): DataFrame = i match {
        // epoch 2 blocks user_id % 16 = 0 (their epoch-1 rows RETRACT);
        // epoch 3 blocks % 16 = 4; epoch 4 UNBLOCKS % 16 = 0 (their
        // rows RE-ADMIT) — final blocklist = % 16 = 4 only
        case 1 => users.where(pmod(col("user_id"), lit(16)) === 0)
          .withColumn("__op", lit("+I"))
        case 2 => users.where(pmod(col("user_id"), lit(16)) === 4)
          .withColumn("__op", lit("+I"))
        case 3 => users.where(pmod(col("user_id"), lit(16)) === 0)
          .withColumn("__op", lit("-D"))
        case _ => users.where(lit(false)).withColumn("__op", lit("+I"))
      }
      RunnerGate(Seq(
          "block_feed_q243" -> "user_id BIGINT, __op STRING",
          "orders_feed_q243" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE blocklist_q243 (user_id BIGINT, __op STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO blocklist_q243 SELECT user_id, __op FROM block_feed_q243;
          CREATE TABLE kept_q243 (event_id BIGINT, user_id BIGINT, value DOUBLE,
            __op STRING) WITH ('changelog.mode' = 'retract');
          INSERT INTO kept_q243 (event_id, user_id, value)
          SELECT o.event_id, o.user_id, o.value FROM orders_feed_q243 o
          WHERE NOT EXISTS (SELECT 1 FROM blocklist_q243 b
                            WHERE b.user_id = o.user_id)""",
        ev, epochs = 4, e => i => Seq(
          "orders_feed_q243" -> e.slice(ev, i).select("event_id", "user_id", "value"),
          "block_feed_q243" -> blockOps(i)),
        RetractNet("kept_q243", "event_id", "user_id", "value"))
    }),

    // ── EXACT PERCENTILE over an upsert changelog driver, DRIVER-GATED
    //    (round 16 — the last multiset-foldable shape; the practical
    //    rejection list is now empty): percentile/median recompute
    //    from the per-(group, value) net counts via Spark's weighted
    //    Percentile. Values are INTEGER-valued doubles and the
    //    percentages dyadic (0.25/0.5/0.75), so every interpolation
    //    step is exactly representable — bit-identical to DuckDB's
    //    quantile_cont regardless of either engine's evaluation order
    //    (the CLAUDE.md float-tie rule applied by construction) ──
    "q244_stream_exact_percentile" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q244" -> "user_id BIGINT, event_type STRING, value DOUBLE"), """
          CREATE TABLE user_latest_q244 (
            user_id BIGINT, last_event_type STRING, last_value DOUBLE,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q244
          SELECT user_id, event_type, value FROM events_feed_q244;
          CREATE TABLE type_pcts_q244 (event_type STRING, n_users BIGINT,
            p25 DOUBLE, p50 DOUBLE, p75 DOUBLE, med DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_pcts_q244
          SELECT last_event_type, count(*) AS n_users,
                 percentile(CAST(user_id % 97 AS DOUBLE), 0.25) AS p25,
                 percentile(CAST(user_id % 97 AS DOUBLE), 0.5) AS p50,
                 percentile(CAST(user_id % 97 AS DOUBLE), 0.75) AS p75,
                 median(CAST(user_id % 97 AS DOUBLE)) AS med
          FROM user_latest_q244 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q244", ev, "event_type", "value"),
        Project("type_pcts_q244", col("event_type"), col("n_users"),
          col("p25"), col("p50"), col("p75"), col("med")))
    }),

    // ── EXACT PERCENTILE_DISC over an upsert changelog driver,
    //    DRIVER-GATED (round 17 — closing the one degenerate rejection
    //    a user actually types, VERDICT r16 item 3): the discrete
    //    cume_dist ≥ p pick over the live per-(group, value) multiset,
    //    ASC and DESC, targeted by EXACT integer micro-arithmetic
    //    (⌈m·N/10⁶⌉ via intDiv — no float boundary drift). The oracle
    //    states the SAME pick rule explicitly (row_number = target)
    //    rather than trusting DuckDB's quantile_disc convention ──
    "q246_stream_percentile_disc" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q246" -> "user_id BIGINT, event_type STRING, value DOUBLE"), """
          CREATE TABLE user_latest_q246 (
            user_id BIGINT, last_event_type STRING, last_value DOUBLE,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q246
          SELECT user_id, event_type, value FROM events_feed_q246;
          CREATE TABLE type_disc_q246 (event_type STRING, n_users BIGINT,
            d50 DOUBLE, d25 DOUBLE, d50r DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_disc_q246
          SELECT last_event_type, count(*) AS n_users,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(user_id % 97 AS DOUBLE)) AS d50,
                 percentile_disc(0.25) WITHIN GROUP (ORDER BY CAST(user_id % 97 AS DOUBLE)) AS d25,
                 percentile_disc(0.5) WITHIN GROUP (ORDER BY CAST(user_id % 97 AS DOUBLE) DESC) AS d50r
          FROM user_latest_q246 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q246", ev, "event_type", "value"),
        Project("type_disc_q246", col("event_type"), col("n_users"),
          col("d50"), col("d25"), col("d50r")))
    }),

    // ── CHAINED multi-dim LEFT OUTER regular join, DRIVER-GATED
    //    (round 17, VERDICT r16 item 1 — the production enrichment
    //    shape of `lab-aggregations/main.tf:563` written the way users
    //    write it, so missing dims never drop facts): facts LEFT JOIN
    //    a per-user dim LEFT JOIN a per-type dim whose join key is the
    //    FIRST dim's output (the pad-of-pad dependence). Facts stream
    //    BEFORE their dims each epoch (maximal pad churn); both dims
    //    revise independently across epochs. The folded net state must
    //    equal the batch chained LEFT JOIN over FINAL dim state —
    //    including the three pad classes the restricted dims leave
    //    behind: user%8=4 facts (both dims null), 'click'-latest users
    //    (level-2 null), and fully-enriched rows ──
    "q245_stream_chained_left_join" -> ((s, dir) => {
      val ev = events(s, dir)
      // joinState observability as a GUARD (VERDICT r19 item 5): at
      // every drain the enriched statement's state report must show
      // compaction keeping up — un-folded batch dirs can exceed the
      // threshold by at most the batch just written (maybeCompact
      // folds dirs STRICTLY BELOW the current batch), and the
      // gen-atomic publish keeps at most two generations live. The
      // 7-day TTL exercises the TTL'd read/compact path without
      // expiring anything in-test, so the folded oracle is unchanged.
      def assertJoinStateBounded(r: exec.StreamingStatementRunner, drain: String): Unit = {
        val ps = r.progressSummary.filter(_.name.contains("enriched_q245"))
        require(ps.nonEmpty && ps.forall(_.joinState.nonEmpty),
          s"q245[$drain]: enriched statement reported no joinState")
        ps.flatMap(_.joinState).foreach { side =>
          require(side.batchDirs <= 2 + 1,
            s"q245[$drain] ${side.table}: ${side.batchDirs} un-folded batch " +
            s"dirs > compact.threshold+1 — compaction not keeping up")
          require(side.generations <= 2,
            s"q245[$drain] ${side.table}: ${side.generations} live " +
            "generations — superseded generations not pruned")
          // the fact LOG must be non-empty from the first drain on
          // (facts stream first); dim snapshots are legitimately empty
          // until their feed's first revision lands
          if (side.kind == "log")
            require(side.bytes > 0 && side.rows > 0,
              s"q245[$drain] ${side.table}: empty fact-log state report " +
              s"(rows=${side.rows}, bytes=${side.bytes})")
        }
      }
      RunnerGate(Seq(
          "dim_feed_q245" -> "user_id BIGINT, event_type STRING",
          "band_feed_q245" -> "event_type STRING, label STRING",
          "orders_feed_q245" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q245 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q245 SELECT user_id, event_type FROM dim_feed_q245;
          CREATE TABLE band_dim_q245 (event_type STRING, label STRING,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO band_dim_q245 SELECT event_type, label FROM band_feed_q245;
          CREATE TABLE enriched_q245 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, band_label STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract', 'join.state.ttl' = '7 d',
                  'join.state.compact.threshold' = '2');
          INSERT INTO enriched_q245 (event_id, user_id, last_event_type, band_label, value)
          SELECT o.event_id, o.user_id, c.last_event_type, b.label, o.value
          FROM orders_feed_q245 o
          LEFT JOIN user_dim_q245 c ON o.user_id = c.user_id
          LEFT JOIN band_dim_q245 b ON c.last_event_type = b.event_type""",
        ev, epochs = 4, bandJoinFeeds(ev, "q245", i => lit(s"L$i")),
        RetractNet("enriched_q245", "event_id", "user_id", "last_event_type",
          "band_label", "value"),
        afterDrain = assertJoinStateBounded)
    }),

    // ── ARRAY-of-percentages EXACT percentile over an upsert
    //    changelog driver, DRIVER-GATED (round 18, VERDICT r17
    //    item 4): q244's latest-per-user multiset with the three
    //    quartile picks emitted as ONE array<double> stat column —
    //    the same weighted-Percentile recompute, one pass for N
    //    picks. Dyadic percentages + small-integer values keep the
    //    interpolation exact in binary on both engines (the q244
    //    discipline). The GATE projection unpacks the array into three
    //    scalar DOUBLE columns (q25/q50/q75): the driver's pandas
    //    compare cannot sort an ARRAY<DOUBLE> output column
    //    (unhashable numpy.ndarray — round-18 red row), and top-level
    //    array/map/struct outputs are now hard-rejected by
    //    dev/check.py for exactly this reason ──
    "q248_stream_percentile_array" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q248" -> "user_id BIGINT, event_type STRING, value DOUBLE"), """
          CREATE TABLE user_latest_q248 (
            user_id BIGINT, last_event_type STRING, last_value DOUBLE,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q248
          SELECT user_id, event_type, value FROM events_feed_q248;
          CREATE TABLE type_qs_q248 (event_type STRING, n_users BIGINT,
            qs ARRAY<DOUBLE>, med DOUBLE,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_qs_q248
          SELECT last_event_type, count(*) AS n_users,
                 percentile(CAST(user_id % 97 AS DOUBLE), array(0.25, 0.5, 0.75)) AS qs,
                 percentile(CAST(user_id % 97 AS DOUBLE), 0.5) AS med
          FROM user_latest_q248 GROUP BY last_event_type""",
        ev, epochs = 3, upsertFeed("events_feed_q248", ev, "event_type", "value"),
        Project("type_qs_q248", col("event_type"), col("n_users"),
          col("qs").getItem(0).as("q25"), col("qs").getItem(1).as("q50"),
          col("qs").getItem(2).as("q75"), col("med")))
    }),

    // ── MULTI-USE CTE SELF-JOIN regular join, DRIVER-GATED (round 18,
    //    VERDICT r17 item 3): a CTE over the fact feed referenced
    //    TWICE (same-user event pairs) joined to a revisable user dim.
    //    Each CTE site routes as its OWN side (per-occurrence
    //    renaming), so the cross terms — a new fact pairing against
    //    the OTHER site's logged state — and dim-revision re-emission
    //    both hold. The folded net state must equal the batch pair
    //    join over the FINAL dim state ──
    "q249_stream_cte_selfjoin" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "facts_feed_q249" -> "event_id BIGINT, user_id BIGINT",
          "dim_feed_q249" -> "user_id BIGINT, label STRING"), """
          CREATE TABLE user_dim_q249 (user_id BIGINT, label STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q249 SELECT user_id, label FROM dim_feed_q249;
          CREATE TABLE pairs_q249 (eid1 BIGINT, eid2 BIGINT, user_id BIGINT,
            label STRING, __op STRING) WITH ('changelog.mode' = 'retract');
          INSERT INTO pairs_q249 (eid1, eid2, user_id, label)
          WITH e AS (SELECT event_id, user_id FROM facts_feed_q249)
          SELECT a.event_id, b.event_id, a.user_id, d.label
          FROM e a
          JOIN e b ON a.user_id = b.user_id AND a.event_id < b.event_id
          JOIN user_dim_q249 d ON a.user_id = d.user_id""",
        ev, epochs = 3, e => i => {
          // facts FIRST (pairs form against both sites' logged state),
          // then the dim revision re-labels every logged pair
          val slice = e.slice(ev, i).where(pmod(col("user_id"), lit(8)) === 0)
          Seq("facts_feed_q249" -> slice.select("event_id", "user_id"),
            "dim_feed_q249" -> slice.select("user_id").distinct()
              .withColumn("label", lit(s"L$i")))
        },
        RetractNet("pairs_q249", "eid1", "eid2", "user_id", "label"))
    }),

    // ── BUSHY (non-left-deep) regular join, DRIVER-GATED (round 18):
    //    facts LEFT JOIN a COMPOSED LOOKUP — (user_dim INNER band_dim
    //    keyed on the user dim's output) as the right OPERAND. Both
    //    subtree dims bracket at the LEFT node (inner-flip through
    //    the bushy subtree + the facts-preserving pad pre/post); a
    //    fact pads when its user has no dim row OR its latest type
    //    has no band (the INNER inside drops half-complete lookups).
    //    The folded net state must equal the batch bushy join over
    //    FINAL dim states ──
    "q251_stream_bushy_join" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "dim_feed_q251" -> "user_id BIGINT, event_type STRING",
          "band_feed_q251" -> "event_type STRING, label STRING",
          "orders_feed_q251" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q251 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q251 SELECT user_id, event_type FROM dim_feed_q251;
          CREATE TABLE band_dim_q251 (event_type STRING, label STRING,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO band_dim_q251 SELECT event_type, label FROM band_feed_q251;
          CREATE TABLE enriched_q251 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, band_label STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q251 (event_id, user_id, last_event_type, band_label, value)
          SELECT o.event_id, o.user_id, c.last_event_type, b.label, o.value
          FROM orders_feed_q251 o
          LEFT JOIN (user_dim_q251 c
                     JOIN band_dim_q251 b ON c.last_event_type = b.event_type)
            ON o.user_id = c.user_id""",
        ev, epochs = 3, bandJoinFeeds(ev, "q251", i => concat(lit(s"L${i}_"), col("event_type"))),
        RetractNet("enriched_q251", "event_id", "user_id", "last_event_type",
          "band_label", "value"))
    }),

    // ── DOUBLY-NULL-DOMINATED regular join, DRIVER-GATED (round 18 —
    //    the multi-node bracket): facts LEFT JOIN a per-user dim
    //    RIGHT JOIN a per-type band keyed on the LEFT dim's output.
    //    The user dim is null-produced by BOTH nodes (its own LEFT and
    //    the RIGHT above), so its bracket runs the top-down expansion:
    //    one delta term through both inner flips + a pre/post pair per
    //    node's terminal pad. Facts stream BEFORE dims each epoch; the
    //    folded net state must equal the batch LEFT+RIGHT join over
    //    FINAL dim states — enriched rows, right pads (band types no
    //    user's latest type matches, whole left side null), and the
    //    DROP of facts whose latest type has no band ('click') or
    //    whose user has no dim row (RIGHT preserves only bands) ──
    "q250_stream_doubly_dominated_join" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "dim_feed_q250" -> "user_id BIGINT, event_type STRING",
          "band_feed_q250" -> "event_type STRING, label STRING",
          "orders_feed_q250" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q250 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q250 SELECT user_id, event_type FROM dim_feed_q250;
          CREATE TABLE band_dim_q250 (event_type STRING, label STRING,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO band_dim_q250 SELECT event_type, label FROM band_feed_q250;
          CREATE TABLE enriched_q250 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, band_label STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q250 (event_id, user_id, last_event_type, band_label, value)
          SELECT o.event_id, o.user_id, c.last_event_type, b.label, o.value
          FROM orders_feed_q250 o
          LEFT JOIN user_dim_q250 c ON o.user_id = c.user_id
          RIGHT JOIN band_dim_q250 b ON c.last_event_type = b.event_type""",
        ev, epochs = 3, bandJoinFeeds(ev, "q250", i => concat(lit(s"L${i}_"), col("event_type"))),
        RetractNet("enriched_q250", "event_id", "user_id", "last_event_type",
          "band_label", "value"))
    }),

    // ── MULTI-COLUMN count(DISTINCT a, b) over an upsert changelog
    //    driver, DRIVER-GATED (round 19, VERDICT r18 item 5): the
    //    STRUCT-KEYED per-(group, value-tuple) multiset — previously
    //    spec-only (ValueSetAggSpec). Each user revision retracts its
    //    old (user_id % 16, event_id % 8) pair from its group's
    //    multiset; a pair survives until its LAST holder leaves. The
    //    final state must equal the batch latest-per-key aggregate.
    //    The oracle encodes the pair as a*8+b (b < 8, both mods
    //    non-negative — exact integer bijection), keeping the OUTPUT
    //    flat while the engine exercises the true multi-column form ──
    "q252_stream_multicol_distinct" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq("events_feed_q252" ->
          "user_id BIGINT, event_id BIGINT, event_type STRING, ts_us BIGINT"), """
          CREATE TABLE user_latest_q252 (
            user_id BIGINT, last_event_id BIGINT, last_event_type STRING, ts_us BIGINT,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_latest_q252
          SELECT user_id, event_id, event_type, ts_us FROM events_feed_q252;
          CREATE TABLE type_pairs_q252 (event_type STRING, n_users BIGINT,
            n_pairs BIGINT,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO type_pairs_q252
          SELECT last_event_type, count(*) AS n_users,
                 count(DISTINCT user_id % 16, last_event_id % 8) AS n_pairs
          FROM user_latest_q252 GROUP BY last_event_type""",
        ev, epochs = 4, upsertFeed("events_feed_q252", ev, "event_id", "event_type", "ts_us"),
        Project("type_pairs_q252", col("event_type"), col("n_users"), col("n_pairs")))
    }),

    // ── MID-CHAIN FULL OUTER regular join, DRIVER-GATED (round 18,
    //    VERDICT r17 item 2 — the affect-set bracket generalization):
    //    facts INNER JOIN a per-user dim FULL JOIN a per-type dim
    //    keyed on the FIRST dim's output. The FULL node null-dominates
    //    the whole left subtree (facts + inner dim each bracket at it:
    //    inner-flip + right-preserving pad pre/post + own LEFT pad
    //    over Δ) and anti-joins its right child (band: inner-flip +
    //    left-preserving pad pre/post + own RIGHT pad over Δ). Facts
    //    stream BEFORE dims each epoch; both dims revise across
    //    epochs. The folded net state must equal the batch INNER+FULL
    //    join over FINAL dim states — fully-enriched rows, left pads
    //    ('click'-latest users: null band), and right pads (band
    //    types no user's latest type matches: whole left side null).
    //    Facts are INNER-gated until their dim arrives, then the dim
    //    write flows them through the FULL node (retracting any right
    //    pad their latest type was holding up). Band labels are unique
    //    PER TYPE (not just per epoch): identical right-pad rows would
    //    net past 1 and vanish from the retract-net fold ──
    "q247_stream_midchain_full_join" -> ((s, dir) => {
      val ev = events(s, dir)
      RunnerGate(Seq(
          "dim_feed_q247" -> "user_id BIGINT, event_type STRING",
          "band_feed_q247" -> "event_type STRING, label STRING",
          "orders_feed_q247" -> "event_id BIGINT, user_id BIGINT, value DOUBLE"), """
          CREATE TABLE user_dim_q247 (user_id BIGINT, last_event_type STRING,
            PRIMARY KEY (user_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO user_dim_q247 SELECT user_id, event_type FROM dim_feed_q247;
          CREATE TABLE band_dim_q247 (event_type STRING, label STRING,
            PRIMARY KEY (event_type) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
          INSERT INTO band_dim_q247 SELECT event_type, label FROM band_feed_q247;
          CREATE TABLE enriched_q247 (event_id BIGINT, user_id BIGINT,
            last_event_type STRING, band_label STRING, value DOUBLE, __op STRING)
            WITH ('changelog.mode' = 'retract');
          INSERT INTO enriched_q247 (event_id, user_id, last_event_type, band_label, value)
          SELECT o.event_id, o.user_id, c.last_event_type, b.label, o.value
          FROM orders_feed_q247 o
          JOIN user_dim_q247 c ON o.user_id = c.user_id
          FULL JOIN band_dim_q247 b ON c.last_event_type = b.event_type""",
        ev, epochs = 3, bandJoinFeeds(ev, "q247", i => concat(lit(s"L${i}_"), col("event_type"))),
        RetractNet("enriched_q247", "event_id", "user_id", "last_event_type",
          "band_label", "value"))
    })
  )

  /** DuckDB-runnable oracle per query — the map lives in
    * [[graft.OracleSql]] (split per VERDICT r11 item 7). */
  def oracleSql: Map[String, String] = OracleSql.map
}
