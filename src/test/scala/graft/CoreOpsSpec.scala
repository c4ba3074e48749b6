package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // 4 cores whatever the host: the suite's partitioning must not
  // follow SPARK_GRAFT_CPUS
  lazy val spark: SparkSession =
    Session(4, Seq("spark.sql.warehouse.dir" -> "/tmp/graft-test-warehouse"))
  val sfDir = "/root/testdata/sf0.001"

  /** Order-insensitive full comparison of two small frames. */
  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    val ac = a.columns.sorted.toSeq
    assert(ac == b.columns.sorted.toSeq, s"columns ${a.columns.toSeq} vs ${b.columns.toSeq}")
    val av = a.select(ac.map(a(_)): _*).collect().map(_.toString).sorted
    val bv = b.select(ac.map(b(_)): _*).collect().map(_.toString).sorted
    assert(av.length == bv.length, s"row count ${av.length} vs ${bv.length}")
    av.zip(bv).zipWithIndex.foreach { case ((x, y), i) => assert(x == y, s"row $i: $x != $y") }
  }
}

/** Semantic invariants for the reference-derived core operators
  * (SURVEY.md §2). The authoritative value-level gate is the driver's
  * DuckDB compare (tools/check.py reproduces it locally); these specs
  * pin the cross-operator algebra that must hold regardless of engine.
  */
class CoreOpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import graft.operators.CoreOps
  import graft.sources.Tables

  lazy val li = Tables.lineitem(spark, sfDir)
  lazy val orders = Tables.orders(spark, sfDir)

  test("q01 repartition preserves rows and keys") {
    val out = CoreOps.repartitionByKey(orders)
    assert(out.count() == orders.count())
    assert(out.rdd.getNumPartitions > 0)
  }

  test("q02 join_user is key-complete (every order has a customer)") {
    val out = CoreOps.joinUser(orders, Tables.customer(spark, sfDir))
    assert(out.count() == orders.count())
  }

  test("q04 explode round-trips lineitem exactly") {
    assertSameRows(
      CoreOps.explodeItems(li),
      li.select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity"))
  }

  test("q06 reassembly: item counts match raw lineitem when all priced") {
    val out = CoreOps.orderReassembly(li, Tables.part(spark, sfDir))
    val expected = li.groupBy("l_orderkey").count()
    // only orders where all items matched a part survive the filter
    assert(out.count() <= expected.count())
    val j = out.join(expected, "l_orderkey")
      .filter(org.apache.spark.sql.functions.col("item_count") =!=
        org.apache.spark.sql.functions.col("count"))
    assert(j.count() == 0)
  }

  test("q09 stats_merge over disjoint halves equals q07 full stats") {
    assertSameRows(CoreOps.statsMerge(li), CoreOps.productStats(li))
  }

  test("cogroup reconciliation agrees with the join-based computation") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, count, sum}
    val headers = orders.select(col("o_orderkey"), col("o_totalprice"))
      .as[graft.operators.TypedOps.OrderHeader]
    val items = li.selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_returnflag", "l_linestatus", "l_shipdate")
      .as[graft.sources.Models.LineItem]
    val recon = graft.operators.TypedOps.reconcileOrders(headers, items).toDF()
    // row count = all orders ∪ all item orderkeys
    val allKeys = orders.select(col("o_orderkey"))
      .union(li.select(col("l_orderkey"))).distinct().count()
    assert(recon.count() == allKeys)
    // item counts match a relational groupBy
    val viaJoin = li.groupBy(col("l_orderkey")).agg(count("*").as("n"))
    val cmp = recon.join(viaJoin, col("o_orderkey") === col("l_orderkey"))
      .filter(col("n_items") =!= col("n"))
    assert(cmp.count() == 0)
    assert(recon.filter(!col("has_header")).count() == 0) // FK-complete data
  }

  test("typed Aggregator product stats equals the untyped plan") {
    import spark.implicits._
    val typed = graft.operators.TypedOps.productStatsTyped(
      li.select("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
        .as[graft.sources.Models.LineItem])
    assertSameRows(typed.toDF(), CoreOps.productStats(li))
  }

  test("salted aggregation equals the direct aggregation (skew path)") {
    assertSameRows(CoreOps.saltedProductStats(li, salts = 16), CoreOps.productStats(li))
    assertSameRows(CoreOps.saltedProductStats(li, salts = 1), CoreOps.productStats(li))
  }

  test("q10 pickup pipeline equals q06 totals joined with dims") {
    val p = CoreOps.pickupPipeline(orders, Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir), li, Tables.part(spark, sfDir))
    val q6 = CoreOps.orderReassembly(li, Tables.part(spark, sfDir))
    assertSameRows(
      p.select(p("o_orderkey").as("l_orderkey"), p("item_count"), p("order_total")),
      q6)
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("broadcast join q03 plans a BroadcastHashJoin, no shuffle of the big side") {
    val out = CoreOps.joinStoreBroadcast(Tables.customer(spark, sfDir),
      Tables.nation(spark, sfDir), Tables.region(spark, sfDir))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }
}
