package perfbench

import org.scalatest.funsuite.AnyFunSuite

class BinderSpec extends AnyFunSuite {
  private val dirs = graft.Tables.names.map(t => t -> s"/w/$t").toMap
  private def bind(sql: String) = Binder.bind(sql, dirs)

  test("binds every table reference of the 46 relational q-corpus statements") {
    val corpus = Harness.relationalOracle
    assert(corpus.size == 46)
    corpus.foreach { case (name, sql) =>
      val (bound, used) = bind(sql)
      // Binding the bound text again finds nothing left to bind.
      assert(bind(bound)._2.isEmpty, s"$name left a table unbound: $bound")
      used.foreach(t => assert(bound.contains(s"iceberg_scan('/w/$t')"), name))
      if (name == "q41_values") assert(used.isEmpty)
      else assert(used.nonEmpty, s"$name bound no table")
    }
  }

  test("leaves identifiers, calls, qualified names, aliases, literals and comments alone") {
    val sql = "SELECT l_orderkey, part(x), t.orders, orders.o_orderkey, 1 AS part, " +
      "'orders' AS s, \"region\", `nation` -- from orders\n/* join part */ FROM orders"
    val (bound, used) = bind(sql)
    assert(used == Set("orders"))
    assert(bound == sql.replace("FROM orders", "FROM iceberg_scan('/w/orders')"))
  }

  test("binds case-insensitively and keeps a doubled quote inside a literal") {
    val (bound, used) = bind("SELECT 'it''s orders' FROM Nation n JOIN REGION r ON n_regionkey = r_regionkey")
    assert(used == Set("nation", "region"))
    assert(bound == "SELECT 'it''s orders' FROM iceberg_scan('/w/nation') n JOIN " +
      "iceberg_scan('/w/region') r ON n_regionkey = r_regionkey")
  }
}
