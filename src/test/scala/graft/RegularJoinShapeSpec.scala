package graft

import graft.exec.StreamingStatementRunner
import graft.exec.StreamingStatementRunner.Term
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftOuter, RightOuter}

/** The regular join's routing as data: every side's bracket is a list
  * of [[Term]]s built by one top-down expansion over the side's
  * null-dominating join nodes (pre-order indices). A k = 1 side lists
  * the inner flip, FULL's own pad, then the other-side pad as a
  * pre/post bracket — the three evaluations a singly-dominated side
  * has always made. */
class RegularJoinShapeSpec extends SparkSpec {

  private def shapeOf(sql: String) =
    StreamingStatementRunner.regularJoinShape(spark.sessionState.sqlParser, sql)
      .getOrElse(fail(s"not a regular-join shape: $sql"))

  private def assertShape(sql: String, kinds: Seq[JoinType], sideOrder: Seq[String],
                          plans: Map[String, Seq[Term]]): Unit = {
    val s = shapeOf(sql)
    assert(s.spineKinds === kinds)
    assert(s.sideOrder === sideOrder)
    assert(s.plans === plans)
  }

  private val linear = Seq(Term(Nil, Nil, bracket = false))

  test("fact LEFT dim: the dim flips to INNER over its delta and brackets the fact-preserving pad") {
    assertShape("SELECT f.a, d.b FROM fact f LEFT JOIN dim d ON f.k = d.k",
      Seq(LeftOuter), Seq("fact", "dim"), Map(
        "fact" -> linear,
        "dim" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> true), bracket = true))))
  }

  test("fact RIGHT dim: the fact is the null-produced side") {
    assertShape("SELECT f.a, d.b FROM fact f RIGHT JOIN dim d ON f.k = d.k",
      Seq(RightOuter), Seq("fact", "dim"), Map(
        "fact" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> false), bracket = true)),
        "dim" -> linear))
  }

  test("fact FULL dim: each side adds its own preserved pad over its delta") {
    assertShape("SELECT f.a, d.b FROM fact f FULL OUTER JOIN dim d ON f.k = d.k",
      Seq(FullOuter), Seq("fact", "dim"), Map(
        "fact" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> true), bracket = false),
          Term(Nil, Seq(0 -> false), bracket = true)),
        "dim" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> false), bracket = false),
          Term(Nil, Seq(0 -> true), bracket = true))))
  }

  test("fact LEFT d1 RIGHT d2: the doubly-dominated d1 expands to 2k+1 = 5 evaluations") {
    // pre-order: node 0 = the top RIGHT join, node 1 = fact LEFT d1
    assertShape(
      """SELECT f.a, a.b, b.c FROM fact f
         LEFT JOIN d1 a ON f.k = a.k
         RIGHT JOIN d2 b ON f.j = b.j""",
      Seq(RightOuter, LeftOuter), Seq("fact", "d1", "d2"), Map(
        "fact" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> false), bracket = true)),
        "d1" -> Seq(Term(Seq(0, 1), Nil, bracket = false),
          Term(Seq(0), Seq(1 -> true), bracket = true),
          Term(Nil, Seq(0 -> false), bracket = true)),
        "d2" -> linear))
  }

  test("bushy fact LEFT (d1 JOIN d2): both operand refs bracket at the LEFT node") {
    assertShape(
      """SELECT f.a, a.b, b.c FROM fact f
         LEFT JOIN (d1 a JOIN d2 b ON a.x = b.x) ON f.k = a.k""",
      Seq(LeftOuter, Inner), Seq("fact", "d1", "d2"), Map(
        "fact" -> linear,
        "d1" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> true), bracket = true)),
        "d2" -> Seq(Term(Seq(0), Nil, bracket = false),
          Term(Nil, Seq(0 -> true), bracket = true))))
  }

  test("NOT EXISTS blocklist: no join tree; the subquery dim is one brute pre/post bracket") {
    val s = shapeOf(
      """SELECT o.id FROM orders o
         WHERE NOT EXISTS (SELECT 1 FROM blocklist b WHERE b.c = o.c)""")
    assert(s.spineKinds.isEmpty)
    assert(s.sideOrder === Seq("orders"))
    assert(s.subRefs === Set("blocklist"))
    assert(s.plans === Map("orders" -> linear,
      "blocklist" -> Seq(Term(Nil, Nil, bracket = true))))
  }

  test("all-INNER three-way join: every side is the single verbatim term") {
    assertShape(
      """SELECT o.id, c.n, p.m FROM orders o
         JOIN customers c ON o.c = c.c
         JOIN products p ON o.p = p.p""",
      Seq(Inner, Inner), Seq("orders", "customers", "products"),
      Map("orders" -> linear, "customers" -> linear, "products" -> linear))
  }
}
