package stmtbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** One append to a source topic: the rows are JSON-encoded by
  * `Topics.appendJson`, so the engine sees only topic records. */
final case class Feed(topic: String, rows: IndexedSeq[Row])

/** A seeded input generator plus the reference the sink is checked
  * against. Epochs are generated strictly in order; the generator keeps
  * the full input history it needs for its reference. */
trait Gen {
  def initial(): Seq[Feed]
  def epoch(i: Int): Seq[Feed]
  /** A description of how the visible target rows differ from the
    * reference computed from every generated input, or None when they
    * agree. */
  def check(visible: Seq[Row]): Option[String]
}

/** A lab-shaped statement script over topic sources.
  *
  * A run of `--seconds s` times `round(s * epochsPerSecond)` epochs, so
  * two commits measured with the same settings do the same work. The
  * rates are set so that one run of each workload fits the benchmark's
  * time budget: at `--seconds 40` on a 4-vCPU host the 11 joins epochs
  * (two micro-batches of the regular join each) take 25–40 s, the 24
  * small append epochs 13–20 s. */
final case class Workload(name: String, sources: Seq[(String, StructType)],
                          script: String, target: String,
                          epochsPerSecond: Double, gen: Long => Gen)

object Workloads {

  private def str(names: String*): StructType =
    StructType(names.map(StructField(_, StringType)))

  /** Seeds are mixed with the workload name so two workloads never
    * draw the same stream from one seed. */
  private def rng(seed: Long, name: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ name.hashCode.toLong)

  /** Zipf(s) ranks over 1..n by inverse CDF; rank 1 is the hottest key. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      (if (i >= 0) i else -i - 1).min(n - 1) + 1
    }
  }

  /** `k` distinct draws from `draw`, in draw order. */
  private def distinct(k: Int)(draw: => Int): IndexedSeq[Int] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += draw
    seen.toIndexedSeq
  }

  /** Multiset difference summary for a mismatch message. */
  private def diff[T](got: Map[T, Long], want: Map[T, Long]): Option[String] =
    if (got == want) None
    else {
      val keys = (got.keySet ++ want.keySet).toSeq
      val bad = keys.filter(k => got.getOrElse(k, 0L) != want.getOrElse(k, 0L))
      Some(s"${bad.size} of ${keys.size} rows differ, e.g. " + bad.take(3).map(k =>
        s"$k: sink ${got.getOrElse(k, 0L)} vs reference ${want.getOrElse(k, 0L)}")
        .mkString("; "))
    }

  private def counts[T](xs: Iterable[T]): Map[T, Long] =
    xs.groupMapReduce(identity)(_ => 1L)(_ + _)

  // ---- joins_retract: lab-joins S1–S6 ---------------------------------

  val joinsRetract: Workload = Workload(
    name = "joins_retract",
    sources = Seq(
      "shoe_customers" -> str("id", "first_name", "last_name", "email"),
      "shoe_products" -> StructType(Seq(
        StructField("id", StringType), StructField("brand", StringType),
        StructField("name", StringType), StructField("sale_price", IntegerType),
        StructField("rating", DoubleType))),
      "shoe_orders" -> StructType(Seq(
        StructField("order_id", IntegerType), StructField("product_id", StringType),
        StructField("customer_id", StringType)))),
    script = """
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
      INNER JOIN shoe_products_keyed sp ON so.product_id = sp.product_id""",
    target = "shoe_orders_enriched",
    epochsPerSecond = 0.275,
    gen = seed => new JoinsGen(seed))

  final class JoinsGen(seed: Long) extends Gen {
    val customers = 300
    val products = 30
    val ordersPerEpoch = 60
    val revisionsPerEpoch = 6
    private val r = rng(seed, "joins_retract")
    private val hot = new Zipf(customers, 1.1)
    private def cid(k: Int) = f"c$k%04d"
    private def pid(k: Int) = f"p$k%03d"
    private val custState = mutable.Map.empty[String, (String, String, String)]
    private val prodState = mutable.Map.empty[String, (String, String, Int, Double)]
    private val orders = mutable.ArrayBuffer.empty[(Int, String, String)]

    private def customerRow(k: Int, rev: Int): Row = {
      val v = (s"f${r.nextInt(100000)}", s"l${r.nextInt(100000)}", s"${cid(k)}.r$rev@example.test")
      custState(cid(k)) = v
      Row(cid(k), v._1, v._2, v._3)
    }
    private def orderRows(n: Int): IndexedSeq[Row] = (0 until n).map { _ =>
      val o = (orders.size + 1, pid(r.nextInt(products) + 1), cid(hot.sample(r)))
      orders += o
      Row(o._1, o._2, o._3)
    }

    def initial(): Seq[Feed] = {
      val cs = (1 to customers).map(customerRow(_, 0))
      val ps = (1 to products).map { k =>
        val v = (s"brand${r.nextInt(8)}", s"model$k", 20 + r.nextInt(180), (2 + r.nextInt(7)) / 2.0)
        prodState(pid(k)) = v
        Row(pid(k), v._1, v._2, v._3, v._4)
      }
      Seq(Feed("shoe_customers", cs), Feed("shoe_products", ps),
        Feed("shoe_orders", orderRows(ordersPerEpoch)))
    }

    /** Orders first, then revisions of distinct customers drawn from the
      * same skew: a hot customer's revision retracts and re-emits every
      * order it has joined so far. */
    def epoch(i: Int): Seq[Feed] = {
      val os = orderRows(ordersPerEpoch)
      val revised = distinct(revisionsPerEpoch)(hot.sample(r)).map(customerRow(_, i))
      Seq(Feed("shoe_orders", os), Feed("shoe_customers", revised))
    }

    /** Net ±1 fold of the retract sink == the batch join of every order
      * against the final dimension state, and no net count negative. */
    def check(visible: Seq[Row]): Option[String] = {
      val net = mutable.Map.empty[Seq[Any], Long]
      visible.foreach { row =>
        val op = row.getAs[String]("__op")
        val sign = if (op != null && op.startsWith("-")) -1L else 1L
        val k = (0 until row.length).filter(_ != row.fieldIndex("__op")).map(row.get)
        net(k) = net.getOrElse(k, 0L) + sign
      }
      val negative = net.collect { case (k, n) if n < 0 => s"$k: $n" }
      if (negative.nonEmpty)
        return Some(s"${negative.size} rows with a negative net count, e.g. ${negative.head}")
      val want = counts(orders.map { case (o, p, c) =>
        val (fn, ln, em) = custState(c)
        val (br, md, sp, ra) = prodState(p)
        Seq[Any](o, fn, ln, em, br, md, sp, ra)
      })
      diff(net.filter(_._2 != 0L).toMap, want)
    }
  }

  // ---- aggs_upsert_read: lab-aggregations, upsert GROUP BY + reader ----

  val aggsUpsertRead: Workload = Workload(
    name = "aggs_upsert_read",
    sources = Seq("shoe_orders" -> StructType(Seq(
      StructField("order_id", IntegerType), StructField("product_id", StringType),
      StructField("customer_id", StringType), StructField("quantity", IntegerType)))),
    script = """
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
        FROM last_order GROUP BY product_id""",
    target = "product_stats",
    epochsPerSecond = 0.275,
    gen = seed => new AggsGen(seed))

  final class AggsGen(seed: Long) extends Gen {
    val customers = 2000
    val products = 100
    val ordersPerEpoch = 150
    private val r = rng(seed, "aggs_upsert_read")
    private val popular = new Zipf(products, 0.8)
    private var nextOrder = 0
    /** customer → (product, quantity) of its latest order */
    private val latest = mutable.Map.empty[String, (String, Int)]

    /** Distinct customers per epoch, so "latest order" never depends on
      * the order of records within one append. */
    private def orderRows(): IndexedSeq[Row] =
      distinct(ordersPerEpoch)(r.nextInt(customers) + 1).map { k =>
        val c = f"c$k%05d"
        val p = f"p${popular.sample(r)}%03d"
        val q = 1 + r.nextInt(5)
        latest(c) = (p, q)
        nextOrder += 1
        Row(nextOrder, p, c, q)
      }

    def initial(): Seq[Feed] = Seq(Feed("shoe_orders", orderRows()))
    def epoch(i: Int): Seq[Feed] = Seq(Feed("shoe_orders", orderRows()))

    /** Visible product_stats == batch GROUP BY over the latest order per
      * customer. */
    def check(visible: Seq[Row]): Option[String] = {
      val want = latest.values.groupBy(_._1).map { case (p, os) =>
        (p, os.size.toLong, os.map(_._2.toLong).sum) -> 1L
      }
      val got = counts(visible.map(row => (row.getAs[String]("product_id"),
        row.getAs[Long]("n_customers"), row.getAs[Long]("total_quantity"))))
      diff(got, want)
    }
  }

  // ---- tables_append_small: lab-tables, stateless filter + project ----

  private val address = StructType(Seq(StructField("city", StringType),
    StructField("state", StringType), StructField("zipcode", LongType)))

  val tablesAppendSmall: Workload = Workload(
    name = "tables_append_small",
    sources = Seq("orders" -> StructType(Seq(
      StructField("ordertime", LongType), StructField("orderid", IntegerType),
      StructField("itemid", StringType), StructField("orderunits", DoubleType),
      StructField("address", address)))),
    script = """
      CREATE TABLE orders_west (
        orderid INT, itemid STRING, orderunits DOUBLE, city STRING, ordertime BIGINT);
      INSERT INTO orders_west
        SELECT orderid, itemid, orderunits, address.city, ordertime
        FROM orders WHERE address.state IN ('State_1', 'State_2', 'State_3')""",
    target = "orders_west",
    epochsPerSecond = 0.6,
    gen = seed => new TablesGen(seed))

  final class TablesGen(seed: Long) extends Gen {
    val ordersPerEpoch = 40
    private val r = rng(seed, "tables_append_small")
    private val all = mutable.ArrayBuffer.empty[Row]
    private var clock = 1500000000000L

    private def orderRows(): IndexedSeq[Row] = (0 until ordersPerEpoch).map { _ =>
      clock += 1 + r.nextInt(2000)
      val row = Row(clock, all.size + 1, s"Item_${r.nextInt(1000)}",
        (1 + r.nextInt(40)) / 4.0,
        Row(s"City_${r.nextInt(50)}", s"State_${r.nextInt(10)}", 10000L + r.nextInt(90000)))
      all += row
      row
    }

    def initial(): Seq[Feed] = Seq(Feed("orders", orderRows()))
    def epoch(i: Int): Seq[Feed] = Seq(Feed("orders", orderRows()))

    /** Sink multiset == the filtered projection of every input. */
    def check(visible: Seq[Row]): Option[String] = {
      val west = Set("State_1", "State_2", "State_3")
      val want = counts(all.collect {
        case Row(t: Long, id: Int, item: String, units: Double, Row(city: String, state: String, _))
            if west(state) => (id, item, units, city, t)
      })
      val got = counts(visible.map(row => (row.getAs[Int]("orderid"),
        row.getAs[String]("itemid"), row.getAs[Double]("orderunits"),
        row.getAs[String]("city"), row.getAs[Long]("ordertime"))))
      diff(got, want)
    }
  }

  val all: Seq[Workload] = Seq(joinsRetract, aggsUpsertRead, tablesAppendSmall)

  def byName(name: String): Either[String, Workload] =
    all.find(_.name == name).toRight(
      s"unknown workload '$name'; expected one of: ${all.map(_.name).mkString(", ")}")
}
