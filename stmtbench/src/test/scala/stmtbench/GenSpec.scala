package stmtbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def feeds(w: Workload, seed: Long, epochs: Int): Seq[Feed] = {
    val g = w.gen(seed)
    g.initial() ++ (1 to epochs).flatMap(g.epoch)
  }

  test("the same seed yields the same records, another seed other records") {
    Workloads.all.foreach { w =>
      assert(feeds(w, 7, 5) == feeds(w, 7, 5), w.name)
      assert(feeds(w, 7, 5) != feeds(w, 8, 5), w.name)
    }
  }

  test("feeds only name declared source topics, with rows of the declared width") {
    Workloads.all.foreach { w =>
      val schemas = w.sources.toMap
      feeds(w, 1, 3).foreach { f =>
        assert(schemas.contains(f.topic), s"${w.name}: ${f.topic}")
        f.rows.foreach(r => assert(r.length == schemas(f.topic).length))
      }
    }
  }

  private def withSchema(schema: StructType)(values: Any*): Row =
    new GenericRowWithSchema(values.toArray, schema)

  test("tables reference: the filtered projection passes, a dropped row fails") {
    val g = Workloads.tablesAppendSmall.gen(3)
    val rows = (g.initial() ++ (1 to 4).flatMap(g.epoch)).flatMap(_.rows)
    val schema = StructType.fromDDL(
      "orderid INT, itemid STRING, orderunits DOUBLE, city STRING, ordertime BIGINT")
    val west = rows.collect {
      case Row(t: Long, id: Int, item: String, u: Double, Row(city: String, state: String, _))
          if Set("State_1", "State_2", "State_3")(state) =>
        withSchema(schema)(id, item, u, city, t)
    }
    assert(west.nonEmpty)
    assert(g.check(west).isEmpty)
    assert(g.check(west.tail).exists(_.contains("differ")))
  }

  test("joins reference: net fold of retractions; a negative net count fails") {
    val g = Workloads.joinsRetract.gen(5)
    val fed = g.initial() ++ (1 to 3).flatMap(g.epoch)
    val cust = fed.filter(_.topic == "shoe_customers").flatMap(_.rows)
      .map(r => r.getString(0) -> r).toMap // later revisions win
    val prod = fed.filter(_.topic == "shoe_products").flatMap(_.rows)
      .map(r => r.getString(0) -> r).toMap
    val schema = StructType.fromDDL("order_id INT, first_name STRING, last_name STRING, " +
      "email STRING, brand STRING, model STRING, sale_price INT, rating DOUBLE, __op STRING")
    def joined(op: String) = fed.filter(_.topic == "shoe_orders").flatMap(_.rows).map { o =>
      val c = cust(o.getString(2))
      val p = prod(o.getString(1))
      withSchema(schema)(o.getInt(0), c.getString(1), c.getString(2), c.getString(3),
        p.getString(1), p.getString(2), p.getInt(3), p.getDouble(4), op)
    }
    val sink = joined("+I")
    assert(g.check(sink).isEmpty)
    // a retraction followed by its re-insertion nets to the same state
    assert(g.check(sink ++ sink.take(2).map(r =>
      withSchema(schema)(r.toSeq.init :+ "-U": _*)) ++ sink.take(2)).isEmpty)
    assert(g.check(sink.tail).nonEmpty)
    assert(g.check(sink :+ withSchema(schema)(-1, "x", "x", "x", "x", "x", 0, 0.0, "-D"))
      .exists(_.contains("negative")))
  }

  test("aggs reference: group by over the latest order per customer") {
    val g = Workloads.aggsUpsertRead.gen(9)
    val fed = (g.initial() ++ (1 to 3).flatMap(g.epoch)).flatMap(_.rows)
    val latest = fed.map(r => r.getString(2) -> r).toMap
    val schema = StructType.fromDDL("product_id STRING, n_customers BIGINT, total_quantity BIGINT")
    val stats = latest.values.groupBy(_.getString(1)).toSeq.map { case (p, rs) =>
      withSchema(schema)(p, rs.size.toLong, rs.map(_.getInt(3).toLong).sum)
    }
    assert(g.check(stats).isEmpty)
    assert(g.check(stats.tail).nonEmpty)
  }
}
