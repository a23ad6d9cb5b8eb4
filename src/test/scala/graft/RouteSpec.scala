package graft

import graft.ddl.StatementPreprocessor
import graft.ddl.StatementPreprocessor.InsertInto
import graft.exec.StreamingStatementRunner
import graft.exec.StreamingStatementRunner.{Driver, Route}
import org.apache.spark.sql.types._

/** Pins the route of every INSERT in every runner gate's script and in
  * the three stmtbench workloads' scripts (restated below). Only the
  * sources and the non-INSERT statements run; each INSERT is routed,
  * never started, so a routing change shows up here before any data
  * moves. */
class RouteSpec extends SparkSpec {

  private def label(r: Route): String = {
    def drv(d: Driver) = if (d.promoted) s"promoted ${d.table}" else d.table
    r match {
      case Route.Direct(Some(d)) if d.promoted => s"Direct(${drv(d)})"
      case Route.Direct(_) => "Direct"
      case Route.SnapshotJoin(d) => s"SnapshotJoin(${drv(d)})"
      case Route.RegularJoin(sides, _) => s"RegularJoin(${sides.mkString(", ")})"
      case Route.RetractAgg(d) => s"RetractAgg(promoted $d)"
      case Route.MergeAgg(d, mayRetract, _) => s"MergeAgg(${drv(d)}, mayRetract=$mayRetract)"
    }
  }

  /** Each INSERT's target → its route's label, in script order. */
  private def routes(name: String, sources: Seq[(String, StructType)],
                     script: String): Seq[(String, String)] = {
    val r = new StreamingStatementRunner(spark,
      topicConf = Some(graft.sources.TopicConf(tempDir(s"route-$name"))))
    try {
      sources.foreach { case (t, schema) => r.registerTopicSource(t, schema) }
      StatementPreprocessor.splitScript(script).flatMap { stmt =>
        StatementPreprocessor.parse(stmt) match {
          case insert: InsertInto =>
            val before = spark.streams.active.map(_.id).toSet
            val route = r.route(insert)
            assert(spark.streams.active.map(_.id).toSet === before,
              s"routing ${insert.target} started a query")
            Some(insert.target -> label(route))
          case _ =>
            r.run(stmt)
            None
        }
      }
    } finally r.stopAll()
  }

  /** Recorded from the parent commit's routing: which start method each
    * INSERT reached, its driver, and (promoted drivers) the changelog
    * table promoted. */
  private val gateRoutes: Map[String, Seq[(String, String)]] = {
    def direct(t: String) = t -> "Direct"
    def promoted(t: String, d: String) = t -> s"Direct(promoted $d)"
    def retract(t: String, d: String) = t -> s"RetractAgg(promoted $d)"
    def merge(t: String, d: String) = t -> s"MergeAgg(promoted $d, mayRetract=true)"
    def join(t: String, sides: String*) = t -> s"RegularJoin(${sides.mkString(", ")})"
    def chain(q: String, agg: (String, String) => (String, String), t: String) =
      Seq(direct(s"user_latest_$q"), agg(s"${t}_$q", s"user_latest_$q"))
    def band(q: String, target: String = "enriched") = Seq(direct(s"user_dim_$q"),
      direct(s"band_dim_$q"),
      join(s"${target}_$q", s"orders_feed_$q", s"user_dim_$q", s"band_dim_$q"))
    def dimJoin(q: String) = Seq(direct(s"user_dim_$q"),
      join(s"enriched_$q", s"orders_feed_$q", s"user_dim_$q"))
    Map(
      "q202_stream_upsert_runner" -> Seq(direct("user_latest_q202")),
      "q210_stream_tombstone_runner" -> Seq(direct("user_live_q210")),
      "q224_stream_restart_runner" -> Seq(direct("user_latest_q224")),
      "q225_stream_chained_insert" -> Seq(direct("user_latest_q225"),
        promoted("user_changelog_q225", "user_latest_q225")),
      "q226_stream_promoted_agg" -> Seq(direct("events_log_q226"),
        promoted("user_counts_q226", "events_log_q226")),
      "q227_stream_retract_agg_upsert" -> chain("q227", retract, "type_stats"),
      "q228_stream_retract_consume" -> Seq(direct("rev_log_q228"),
        retract("type_stats_q228", "rev_log_q228")),
      "q229_stream_merge_join_agg" -> Seq(
        "seg_stats_q229" -> "MergeAgg(events_raw_q229, mayRetract=false)"),
      "q230_stream_merge_upsert_join_agg" -> chain("q230", merge, "seg_latest"),
      "q231_stream_retract_minmax_distinct" -> chain("q231", merge, "type_extremes"),
      "q232_stream_retract_agg_having" -> chain("q232", retract, "even_types"),
      "q233_stream_multilevel_agg" -> (chain("q233", merge, "type_stats") :+
        retract("parity_stats_q233", "type_stats_q233")),
      "q234_stream_argmax_distinct" -> chain("q234", merge, "type_tops"),
      "q235_stream_variance_bool_listagg" -> chain("q235", merge, "type_spread"),
      "q236_stream_regular_join" -> dimJoin("q236"),
      "q237_stream_collect_agg" -> chain("q237", merge, "bucket_collect"),
      "q238_stream_three_level_agg" -> (chain("q238", merge, "type_stats") ++ Seq(
        retract("parity_q238", "type_stats_q238"), retract("grand_q238", "parity_q238"))),
      "q239_stream_tumble_multiset" -> chain("q239", merge, "hourly"),
      "q240_stream_left_outer_join" -> dimJoin("q240"),
      "q241_stream_full_outer_join" -> dimJoin("q241"),
      "q242_stream_join_agg_chain" -> (dimJoin("q242") :+
        retract("type_stats_q242", "enriched_q242")),
      "q243_stream_blocklist_decontam" -> Seq(direct("blocklist_q243"),
        join("kept_q243", "orders_feed_q243", "blocklist_q243")),
      "q244_stream_exact_percentile" -> chain("q244", merge, "type_pcts"),
      "q245_stream_chained_left_join" -> band("q245"),
      "q246_stream_percentile_disc" -> chain("q246", merge, "type_disc"),
      "q247_stream_midchain_full_join" -> band("q247"),
      "q248_stream_percentile_array" -> chain("q248", merge, "type_qs"),
      "q249_stream_cte_selfjoin" -> Seq(direct("user_dim_q249"), join("pairs_q249",
        "facts_feed_q249", "facts_feed_q249__rjoc2", "user_dim_q249")),
      "q250_stream_doubly_dominated_join" -> band("q250"),
      "q251_stream_bushy_join" -> band("q251"),
      "q252_stream_multicol_distinct" -> chain("q252", merge, "type_pairs"))
  }

  test("every runner gate's INSERTs keep their routes") {
    assert(SparkEntry.runnerGates.keySet === gateRoutes.keySet)
    val got = SparkEntry.runnerGates.toSeq.sortBy(_._1).map { case (name, mk) =>
      val g = mk(spark, "/root/testdata/sf0.001")
      name -> routes(name, g.topics.map { case (t, ddl) => t -> StructType.fromDDL(ddl) },
        g.script)
    }.toMap
    gateRoutes.toSeq.sortBy(_._1).foreach { case (name, want) =>
      assert(got(name) === want, name)
    }
  }

  private def str(names: String*): StructType =
    StructType(names.map(StructField(_, StringType)))

  test("joins_retract: two upsert copies, then the regular join into a retract table") {
    val got = routes("joins_retract", Seq(
      "shoe_customers" -> str("id", "first_name", "last_name", "email"),
      "shoe_products" -> StructType(Seq(
        StructField("id", StringType), StructField("brand", StringType),
        StructField("name", StringType), StructField("sale_price", IntegerType),
        StructField("rating", DoubleType))),
      "shoe_orders" -> StructType(Seq(
        StructField("order_id", IntegerType), StructField("product_id", StringType),
        StructField("customer_id", StringType)))), """
      CREATE TABLE shoe_customers_keyed (
        customer_id STRING, first_name STRING, last_name STRING, email STRING,
        PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO shoe_customers_keyed
        SELECT id, first_name, last_name, email FROM shoe_customers;
      CREATE TABLE shoe_products_keyed (
        product_id STRING, brand STRING, `model` STRING, sale_price INT, rating DOUBLE,
        PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO shoe_products_keyed
        SELECT id, brand, `name`, sale_price, rating FROM shoe_products;
      CREATE TABLE shoe_orders_enriched (
        order_id INT, first_name STRING, last_name STRING, email STRING,
        brand STRING, `model` STRING, sale_price INT, rating DOUBLE)
        DISTRIBUTED INTO 1 BUCKETS WITH ('changelog.mode' = 'retract');
      INSERT INTO shoe_orders_enriched(
        order_id, first_name, last_name, email, brand, `model`, sale_price, rating)
      SELECT so.order_id, sc.first_name, sc.last_name, sc.email,
             sp.brand, sp.`model`, sp.sale_price, sp.rating
      FROM shoe_orders so
      INNER JOIN shoe_customers_keyed sc ON so.customer_id = sc.customer_id
      INNER JOIN shoe_products_keyed sp ON so.product_id = sp.product_id""")
    assert(got === Seq(
      "shoe_customers_keyed" -> "Direct",
      "shoe_products_keyed" -> "Direct",
      "shoe_orders_enriched" ->
        "RegularJoin(shoe_orders, shoe_customers_keyed, shoe_products_keyed)"))
  }

  test("tables_append_small: a filter and projection of one append stream") {
    val address = StructType(Seq(StructField("city", StringType),
      StructField("state", StringType), StructField("zipcode", LongType)))
    val got = routes("tables_append_small", Seq("orders" -> StructType(Seq(
      StructField("ordertime", LongType), StructField("orderid", IntegerType),
      StructField("itemid", StringType), StructField("orderunits", DoubleType),
      StructField("address", address)))), """
      CREATE TABLE orders_west (
        orderid INT, itemid STRING, orderunits DOUBLE, city STRING, ordertime BIGINT);
      INSERT INTO orders_west
        SELECT orderid, itemid, orderunits, address.city, ordertime
        FROM orders WHERE address.state IN ('State_1', 'State_2', 'State_3')""")
    assert(got === Seq("orders_west" -> "Direct"))
  }

  test("aggs_upsert_read: count/sum over an upsert table takes the retract-agg route") {
    val got = routes("aggs_upsert_read", Seq("shoe_orders" -> StructType(Seq(
      StructField("order_id", IntegerType), StructField("product_id", StringType),
      StructField("customer_id", StringType), StructField("quantity", IntegerType)))), """
      CREATE TABLE last_order (
        customer_id STRING, order_id INT, product_id STRING, quantity INT,
        PRIMARY KEY (customer_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO last_order
        SELECT customer_id, order_id, product_id, quantity FROM shoe_orders;
      CREATE TABLE product_stats (
        product_id STRING, n_customers BIGINT, total_quantity BIGINT,
        PRIMARY KEY (product_id) NOT ENFORCED) DISTRIBUTED INTO 1 BUCKETS;
      INSERT INTO product_stats
        SELECT product_id, count(*) AS n_customers, sum(quantity) AS total_quantity
        FROM last_order GROUP BY product_id""")
    assert(got === Seq(
      "last_order" -> "Direct",
      "product_stats" -> "RetractAgg(promoted last_order)"))
  }
}
