package graft

import graft.catalog.ChangelogMode
import graft.exec.StreamingStatementRunner
import graft.sources.{TopicConf, Topics}
import org.apache.spark.sql.types._

/** Golden replay of the reference's ten statements (SURVEY.md §2.1,
  * S1–S10) over deterministic shoe fixtures (FIXTURES.md §A) fed
  * through file topics, asserting the materialized tables against
  * hand-computed state. Every statement runs through the dialect's one
  * runner: each INSERT is long-running and drained after its input
  * lands.
  */
class StatementRunnerSpec extends SparkSpec {
  import spark.implicits._

  private val customers = Seq(
    ("c1", "Ann", "Ames", "ann@x.com"),
    ("c2", "Bob", "Baker", "bob@x.com"))
  private val products = Seq(
    ("p1", "nike", "Air", 120, 4.5),
    ("p2", "puma", "Run", 80, 3.9))
  private val orders = Seq((1001, "p1", "c1"), (1002, "p2", "c2"), (1003, "p1", "c2"))

  private def customersDf(rows: Seq[(String, String, String, String)]) =
    rows.toDF("id", "first_name", "last_name", "email")

  /** Runs `body` with a runner over fresh topics holding the fixtures
    * as epoch 1 of the `shoe_customers`, `shoe_products` and
    * `shoe_orders` sources. */
  private def withRunner(body: (StreamingStatementRunner, TopicConf) => Unit): Unit = {
    val conf = TopicConf(tempDir("graft-golden"))
    Topics.appendJson(customersDf(customers), "shoe_customers", conf, Nil, 1)
    Topics.appendJson(products.toDF("id", "brand", "name", "sale_price", "rating"),
      "shoe_products", conf, Nil, 1)
    Topics.appendJson(orders.toDF("order_id", "product_id", "customer_id"),
      "shoe_orders", conf, Nil, 1)
    val r = new StreamingStatementRunner(spark, topicConf = Some(conf))
    def schema(f: (String, DataType)*) = StructType(f.map { case (n, t) => StructField(n, t) })
    r.registerTopicSource("shoe_customers", schema("id" -> StringType,
      "first_name" -> StringType, "last_name" -> StringType, "email" -> StringType))
    r.registerTopicSource("shoe_products", schema("id" -> StringType, "brand" -> StringType,
      "name" -> StringType, "sale_price" -> IntegerType, "rating" -> DoubleType))
    r.registerTopicSource("shoe_orders", schema("order_id" -> IntegerType,
      "product_id" -> StringType, "customer_id" -> StringType))
    try body(r, conf) finally r.stopAll()
  }

  // S1–S6 verbatim from lab-aggregations (main.tf:396,431,463,498,530,563)
  private val s1 =
    """CREATE TABLE shoe_customers_keyed (
       customer_id STRING, first_name STRING, last_name STRING, email STRING,
       PRIMARY KEY (customer_id) NOT ENFORCED)
       DISTRIBUTED INTO 1 BUCKETS"""
  private val s2 =
    "INSERT INTO shoe_customers_keyed SELECT id, first_name, last_name, email FROM shoe_customers"
  private val s3 =
    """CREATE TABLE shoe_products_keyed (
       product_id STRING, brand STRING, `model` STRING, sale_price INT, rating DOUBLE,
       PRIMARY KEY (product_id) NOT ENFORCED)
       DISTRIBUTED INTO 1 BUCKETS"""
  private val s4 =
    "INSERT INTO shoe_products_keyed SELECT id, brand, `name`, sale_price, rating FROM shoe_products"
  private val s5 =
    """CREATE TABLE shoe_orders_enriched (
       order_id INT, first_name STRING, last_name STRING, email STRING,
       brand STRING, `model` STRING, sale_price INT, rating DOUBLE)
       DISTRIBUTED INTO 1 BUCKETS
       WITH ('changelog.mode' = 'retract')"""
  private val s6 =
    """INSERT INTO shoe_orders_enriched(order_id, first_name, last_name, email, brand, `model`, sale_price, rating)
       SELECT so.order_id, sc.first_name, sc.last_name, sc.email,
              sp.brand, sp.`model`, sp.sale_price, sp.rating
       FROM shoe_orders so
       INNER JOIN shoe_customers_keyed sc ON so.customer_id = sc.customer_id
       INNER JOIN shoe_products_keyed sp ON so.product_id = sp.product_id"""

  test("S1/S3/S5 register keys, buckets and changelog modes in the catalog") {
    withRunner { (r, _) =>
      Seq(s1, s3, s5).foreach(r.run(_))
      val ck = r.catalog.get("shoe_customers_keyed").get
      assert(ck.primaryKey === Seq("customer_id"))
      assert(ck.buckets === Some(1))
      assert(ck.changelogMode === ChangelogMode.Upsert)
      assert(r.catalog.get("shoe_orders_enriched").get.changelogMode === ChangelogMode.Retract)
    }
  }

  test("S2 positional insert renames id→customer_id and upserts") {
    withRunner { (r, _) =>
      r.run(s1); r.run(s2)
      r.processAllAvailable()
      val keyed = spark.table("shoe_customers_keyed")
      assert(keyed.columns.toSeq === Seq("customer_id", "first_name", "last_name", "email"))
      assert(keyed.count() === 2)
    }
  }

  test("re-running S2 after a key update keeps only the latest version (upsert)") {
    withRunner { (r, conf) =>
      r.run(s1); r.run(s2)
      r.processAllAvailable()
      // c1 changes email — a later changelog epoch, as datagen would
      // emit; the running S2 folds it in
      Topics.appendJson(customersDf(Seq(("c1", "Ann", "Ames", "ann.new@x.com"))),
        "shoe_customers", conf, Nil, 2)
      r.processAllAvailable()
      val rows = spark.table("shoe_customers_keyed")
        .select("customer_id", "email").as[(String, String)].collect().toMap
      assert(rows === Map("c1" -> "ann.new@x.com", "c2" -> "bob@x.com"))
    }
  }

  test("two versions of a key in ONE insert: later source row wins deterministically") {
    withRunner { (r, conf) =>
      Topics.appendJson(customersDf(Seq(
          ("c3", "Cay", "Cole", "old@x.com"),
          ("c3", "Cay", "Cole", "new@x.com"))) // later row = later offset
        .coalesce(1), // a topic partition is ordered; mirror that
        "shoe_customers", conf, Nil, 2)
      r.run(s1); r.run(s2)
      r.processAllAvailable()
      val email = spark.table("shoe_customers_keyed").where($"customer_id" === "c3")
        .select("email").as[String].collect()
      assert(email.toSeq === Seq("new@x.com"))
    }
  }

  test("S1–S6 pipeline: enriched output equals the batch oracle join") {
    withRunner { (r, _) =>
      Seq(s1, s2, s3, s4, s5, s6).foreach(r.run(_))
      r.processAllAvailable()
      val enriched = spark.table("shoe_orders_enriched")
      assert(enriched.columns.contains("__op")) // retract changelog encoding
      val got = enriched.drop("__op")
      customersDf(customers).createOrReplaceTempView("golden_customers")
      products.toDF("id", "brand", "name", "sale_price", "rating")
        .createOrReplaceTempView("golden_products")
      orders.toDF("order_id", "product_id", "customer_id").createOrReplaceTempView("golden_orders")
      val oracle = spark.sql(
        """SELECT so.order_id, sc.first_name, sc.last_name, sc.email,
                  sp.brand, sp.name AS model, sp.sale_price, sp.rating
           FROM golden_orders so
           JOIN golden_customers sc ON so.customer_id = sc.id
           JOIN golden_products sp ON so.product_id = sp.id""")
      assert(got.except(oracle).isEmpty && oracle.except(got).isEmpty)
      assert(got.count() === 3)
    }
  }

  // S7–S10 from lab-joins (main.tf:465,498,531,564)
  test("S7/S8 ALTER MODIFY retypes the key column; S9/S10 set zero-delay watermarks") {
    withRunner { (r, _) =>
      assert(spark.table("shoe_customers").schema("key").dataType === BinaryType)
      r.run("ALTER TABLE shoe_customers MODIFY (`key` STRING)")
      assert(r.catalog.get("shoe_customers").get.columnCasts === Map("key" -> "STRING"))
      assert(spark.table("shoe_customers").schema("key").dataType.typeName === "string")

      r.run("ALTER TABLE shoe_orders MODIFY WATERMARK FOR `$rowtime` AS `$rowtime`")
      val m = r.catalog.get("shoe_orders").get
      assert(m.watermarkCol === Some("$rowtime"))
      assert(m.watermarkDelay === "0 seconds")
    }
  }

  test("passthrough SQL still runs") {
    withRunner { (r, _) =>
      assert(r.run("CREATE OR REPLACE TEMPORARY VIEW passthrough_one AS SELECT 1 AS one").isEmpty)
      assert(spark.table("passthrough_one").as[Int].head() === 1)
    }
  }

  test("USE CATALOG / USE scope resolution: same-named tables in two databases stay isolated") {
    // reference: every statement runs under sql.current-catalog /
    // sql.current-database (lab-aggregations main.tf:398-399)
    withRunner { (r, conf) =>
      Topics.appendJson(Seq("v1").toDF("tag"), "src_a", conf, Nil, 1)
      Topics.appendJson(Seq("v2").toDF("tag"), "src_b", conf, Nil, 1)
      val tag = StructType(Seq(StructField("tag", StringType)))
      r.registerTopicSource("src_a", tag)
      r.registerTopicSource("src_b", tag)

      r.run("USE CATALOG env1"); r.run("USE cluster_a")
      r.run("CREATE TABLE t (tag STRING)")
      r.run("INSERT INTO t SELECT tag FROM src_a")
      r.processAllAvailable()
      assert(spark.table("t").as[String].head() === "v1")

      r.run("USE cluster_b") // same catalog, different database
      r.run("CREATE TABLE t (tag STRING)")
      r.run("INSERT INTO t SELECT tag FROM src_b")
      r.processAllAvailable()
      assert(spark.table("t").as[String].head() === "v2")

      // switching back resolves the FIRST table again — no clobbering
      r.run("USE cluster_a")
      assert(spark.table("t").as[String].head() === "v1")
      assert(r.catalog.get("t").get.name === "t")
      // both qualified entries coexist in the catalog
      assert(r.catalog.list.count(_.name == "t") === 2)
    }
  }

  test("CREATE TABLE with ROW<...> maps to a Spark struct (ORDERS quickstart address)") {
    // the ORDERS quickstart schema nests an address record
    // (reference terraform/lab-tables/main.tf:174, FIXTURES.md)
    withRunner { (r, _) =>
      r.run(
        """CREATE TABLE orders_q (
           ordertime BIGINT, orderid INT, itemid STRING, orderunits DOUBLE,
           address ROW<city STRING, state STRING, zipcode BIGINT>,
           tags ARRAY<STRING>, attrs MAP<STRING, ROW<n INT>>)""")
      val schema = r.catalog.get("orders_q").get.schema.get
      val addr = schema("address").dataType
      assert(addr.isInstanceOf[StructType])
      val st = addr.asInstanceOf[StructType]
      assert(st.fieldNames.toSeq === Seq("city", "state", "zipcode"))
      assert(st("zipcode").dataType.typeName === "long")
      assert(schema("tags").dataType.typeName === "array")
      assert(schema("attrs").dataType.typeName === "map")
      // the topic-backed view is queryable with struct field access
      assert(spark.sql("SELECT address.city FROM orders_q").count() === 0)
    }
  }
}
