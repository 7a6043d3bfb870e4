package graft
package registry

import graft.operators._
import graft.registry.QueryKit._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TPC-H-shape queries and relational audits over the warehouse tables. */
object TpchQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q_anti_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(ordersNtz(s, dir), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment"),
      Oracle(
        """SELECT c_custkey, c_name, c_mktsegment FROM customer
          |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    QuerySpec("q_market_basket", (s, dir) =>
      // association rules over order baskets (support/confidence/lift):
      // pair space bounded by basket size (co-partitioned self-join on the
      // basket key), item supports by keyed join (an item vocabulary
      // outgrows broadcast at web scale), one-row total broadcast
      Analytics.marketBasket(Tables.lineitem(s, dir), minPairs = 2),
      Oracle(
        """WITH li AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
          |pairs AS (
          |  SELECT a.pk AS pa, b.pk AS pb, count(*) AS n_ab
          |  FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
          |  GROUP BY 1, 2
          |  HAVING count(*) >= 2),
          |items AS (SELECT pk, count(*) AS n_item FROM li GROUP BY 1),
          |tot AS (SELECT CAST(count(DISTINCT ok) AS DOUBLE) AS n_orders FROM li)
          |SELECT pa, pb, CAST(n_ab AS BIGINT) AS n_ab,
          |  round(CAST(n_ab AS DOUBLE) / n_orders, 6) AS support,
          |  round(CAST(n_ab AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 6) AS confidence,
          |  round(CAST(n_ab AS DOUBLE) * n_orders
          |    / (CAST(ia.n_item AS DOUBLE) * CAST(ib.n_item AS DOUBLE)), 6) AS lift
          |FROM pairs
          |JOIN items ia ON pairs.pa = ia.pk
          |JOIN items ib ON pairs.pb = ib.pk
          |CROSS JOIN tot""".stripMargin)),

    QuerySpec("q1_pricing_summary", (s, dir) =>
      Analytics.pricingSummary(lineitemNtz(s, dir), "2000-09-02"),
      Oracle(
        """SELECT l_returnflag, l_linestatus,
          | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty,
          | CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) AS sum_base_price,
          | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS sum_disc_price,
          | CAST(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge,
          | round(CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_qty,
          | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_price,
          | round(CAST(sum(CAST(l_discount AS DECIMAL(28,6))) AS DOUBLE) / count(*), 6) AS avg_disc,
          | count(*) AS count_order
          |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2000-09-02'
          |GROUP BY 1, 2""".stripMargin)),

    QuerySpec("q_topk_per_key", (s, dir) =>
      plans.GroupTopK.topKPerKey(
        ordersNtz(s, dir).select("o_custkey", "o_orderkey", "o_totalprice"),
        Seq("o_custkey"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3),
      Oracle(
        """SELECT o_custkey, o_orderkey, o_totalprice FROM (
          |  SELECT o_custkey, o_orderkey, o_totalprice,
          |         row_number() OVER (PARTITION BY o_custkey
          |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
          |  FROM orders)
          |WHERE rn <= 3""".stripMargin)),

    QuerySpec("q3_top_orders", (s, dir) =>
      Analytics.topOrders(
        Tables.customer(s, dir), ordersNtz(s, dir), Tables.lineitem(s, dir),
        "BUILDING", 10),
      Oracle(
        """SELECT o_orderkey, o_orderdate, o_orderpriority,
          | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
          |FROM customer
          |JOIN orders ON c_custkey = o_custkey
          |JOIN lineitem ON o_orderkey = l_orderkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY 1, 2, 3
          |ORDER BY revenue DESC, o_orderkey
          |LIMIT 10""".stripMargin)),

    QuerySpec("q5_region_revenue", (s, dir) =>
      Analytics.regionRevenue(
        Tables.region(s, dir), Tables.nation(s, dir), Tables.customer(s, dir),
        ordersNtz(s, dir), Tables.lineitem(s, dir), "ASIA"),
      Oracle(
        """SELECT n_name,
          | CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE) AS revenue
          |FROM region
          |JOIN nation ON n_regionkey = r_regionkey
          |JOIN customer ON c_nationkey = n_nationkey
          |JOIN orders ON o_custkey = c_custkey
          |JOIN lineitem ON l_orderkey = o_orderkey
          |WHERE r_name = 'ASIA'
          |GROUP BY n_name""".stripMargin)),

    QuerySpec("q18_big_orders", (s, dir) =>
      // TPC-H Q18 shape: aggregate lineitem quantities first, filter the
      // rare qualifying orders, then join orders + customer against the
      // small survivor set
      Analytics.bigOrders(Tables.customer(s, dir), ordersNtz(s, dir),
        Tables.lineitem(s, dir), minQty = 250, k = 100),
      Oracle(
        """WITH big AS (
          |  SELECT l_orderkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS total_qty
          |  FROM lineitem GROUP BY 1 HAVING total_qty > 250)
          |SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, total_qty
          |FROM orders
          |JOIN big ON o_orderkey = l_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |ORDER BY o_totalprice DESC, o_orderkey
          |LIMIT 100""".stripMargin)),

    QuerySpec("q9_profit", (s, dir) =>
      // TPC-H Q9 shape: the widest join tree on the board — two fact
      // joins + broadcast dims, part filter pruned at the scan
      Analytics.profitByNationYear(Tables.nation(s, dir),
        Tables.supplier(s, dir), Tables.part(s, dir), ordersNtz(s, dir),
        Tables.lineitem(s, dir), partType = "PROMO"),
      Oracle(
        """SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
          |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN part ON l_partkey = p_partkey
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |WHERE p_type = 'PROMO'
          |GROUP BY 1, 2 ORDER BY n_name, o_year DESC""".stripMargin)),

    QuerySpec("q_cohort_orders", (s, dir) =>
      // first-order cohort retention matrix on integer month arithmetic;
      // distinct count on the deduplicated customer-cell grain
      Analytics.orderCohorts(ordersNtz(s, dir)),
      Oracle(
        """WITH m AS MATERIALIZED (
          |  SELECT o_custkey,
          |    CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS INTEGER) AS m
          |  FROM orders),
          |first AS MATERIALIZED (
          |  SELECT o_custkey, min(m) AS m0 FROM m GROUP BY 1),
          |cells AS MATERIALIZED (
          |  SELECT DISTINCT m.o_custkey, f.m0, m.m - f.m0 AS k
          |  FROM m JOIN first f ON m.o_custkey = f.o_custkey)
          |SELECT concat(CAST(m0 // 12 AS BIGINT), '-',
          |         lpad(CAST(m0 % 12 + 1 AS VARCHAR), 2, '0')) AS cohort,
          |  CAST(k AS BIGINT) AS months_later, count(*) AS n_customers
          |FROM cells GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    QuerySpec("q_gini", (s, dir) =>
      // revenue-concentration audit: per-segment Gini of order value —
      // one per-segment window rank + one decimal-moment aggregate
      Analytics.giniBySegment(Tables.customer(s, dir), ordersNtz(s, dir)),
      Oracle(
        """WITH ranked AS MATERIALIZED (
          |  SELECT c_mktsegment, o_totalprice,
          |    CAST(row_number() OVER (PARTITION BY c_mktsegment
          |      ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS i
          |  FROM orders JOIN customer ON o_custkey = c_custkey)
          |SELECT c_mktsegment, count(*) AS n,
          |  round((2 * CAST(sum(CAST(o_totalprice * i AS DECIMAL(28,6))) AS DOUBLE)
          |         - (count(*) + 1) * CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE))
          |        / (count(*) * CAST(sum(CAST(o_totalprice AS DECIMAL(28,6))) AS DOUBLE)),
          |    6) AS gini
          |FROM ranked GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q13_cust_orders", (s, dir) =>
      // TPC-H Q13 shape: order-count histogram incl. the zero bucket —
      // aggregate-then-outer-join, never join-then-count over the fact
      Analytics.custOrderDistribution(
        Tables.customer(s, dir), ordersNtz(s, dir), "1-URGENT"),
      Oracle(
        """SELECT c_count, count(*) AS custdist FROM (
          |  SELECT coalesce(k, 0) AS c_count
          |  FROM customer LEFT JOIN (
          |    SELECT o_custkey, count(*) AS k FROM orders
          |    WHERE o_orderpriority <> '1-URGENT' GROUP BY 1) o
          |  ON c_custkey = o_custkey)
          |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    QuerySpec("q15_top_supplier", (s, dir) =>
      // TPC-H Q15 shape: max-of-aggregate via a one-row broadcast probe
      Analytics.topSupplier(Tables.supplier(s, dir), lineitemNtz(s, dir),
        "1996-01-01", "1996-04-01"),
      Oracle(
        """WITH rev AS MATERIALIZED (
          |  SELECT l_suppkey,
          |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
          |      AS total_revenue
          |  FROM lineitem
          |  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |    AND l_shipdate < TIMESTAMP '1996-04-01'
          |  GROUP BY 1)
          |SELECT s_suppkey, s_name, total_revenue
          |FROM supplier JOIN rev ON s_suppkey = l_suppkey
          |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
          |ORDER BY s_suppkey""".stripMargin)),

    QuerySpec("q16_supplier_classes", (s, dir) =>
      // TPC-H Q16 shape: distinct-supplier count per part class with a
      // broadcast anti-join blacklist
      Analytics.supplierClassCount(Tables.part(s, dir),
        Tables.supplier(s, dir), Tables.lineitem(s, dir), k = 50),
      Oracle(
        """SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
          |GROUP BY 1, 2, 3
          |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
          |LIMIT 50""".stripMargin)),

    QuerySpec("q22_idle_customers", (s, dir) =>
      // TPC-H Q22 shape: scalar-subquery threshold (one-row broadcast) +
      // NOT EXISTS as a left-anti join on the priority-pruned fact
      Analytics.idleRichCustomers(
        Tables.customer(s, dir), ordersNtz(s, dir), "1-URGENT"),
      Oracle(
        """SELECT c_mktsegment, count(*) AS numcust,
          |  CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS totacctbal
          |FROM customer
          |WHERE c_acctbal > (
          |    SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / count(*)
          |    FROM customer WHERE c_acctbal > 0)
          |  AND c_custkey NOT IN (
          |    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q4_order_priority", (s, dir) =>
      // TPC-H Q4 shape: EXISTS as a LEFT SEMI join whose late-shipment
      // date residual evaluates inside the hash probe — no distinct, no
      // fact re-read; both sides NTZ so the +60d arithmetic is engine-flat
      Analytics.latePriorityOrders(ordersNtz(s, dir), lineitemNtz(s, dir),
        lagDays = 60),
      Oracle(
        """SELECT o_orderpriority, count(*) AS n_late_orders
          |FROM orders
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey
          |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q11_important_stock", (s, dir) =>
      // TPC-H Q11 shape: group-then-global-threshold — the scalar mean is
      // a one-row broadcast over the GROUPED frame; fact shuffles once
      Analytics.importantStock(Tables.lineitem(s, dir), meanMult = 1.2),
      Oracle(
        """WITH v AS MATERIALIZED (
          |  SELECT l_partkey,
          |    CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
          |      AS stock_value
          |  FROM lineitem GROUP BY 1),
          |t AS (SELECT CAST(sum(CAST(stock_value AS DECIMAL(28,6))) AS DOUBLE) / count(*)
          |        AS mean_value FROM v)
          |SELECT l_partkey, stock_value FROM v, t
          |WHERE stock_value > 1.2 * mean_value
          |ORDER BY stock_value DESC, l_partkey""".stripMargin)),

    QuerySpec("q14_promo_revenue", (s, dir) =>
      // TPC-H Q14 shape: conditional aggregation, one quarter-pruned fact
      // pass joined to the broadcast part dimension
      Analytics.promoRevenue(Tables.part(s, dir), Tables.lineitem(s, dir),
        from = "1996-01-01", until = "1996-04-01"),
      Oracle(
        """SELECT round(100 * CAST(sum(CAST(CASE WHEN p_type = 'PROMO'
          |      THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END AS DECIMAL(28,6))) AS DOUBLE)
          |    / nullif(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE), 0),
          |    6) AS promo_pct,
          |  count(*) AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          |  AND l_shipdate < TIMESTAMP '1996-04-01'""".stripMargin)),

    QuerySpec("q17_small_qty_revenue", (s, dir) =>
      // TPC-H Q17 shape: correlated avg-quantity subquery decorrelated to
      // an aggregate broadcast back onto the fact
      Analytics.smallQtyRevenue(Tables.part(s, dir), Tables.lineitem(s, dir),
        avgFrac = 0.2),
      Oracle(
        """WITH a AS MATERIALIZED (
          |  SELECT l_partkey AS aq_partkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) / count(*) AS avg_qty
          |  FROM lineitem GROUP BY 1)
          |SELECT p_brand,
          |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(28,6))) AS DOUBLE) / 7.0, 6)
          |    AS avg_yearly,
          |  count(*) AS n_lines
          |FROM lineitem JOIN a ON l_partkey = aq_partkey
          |  JOIN part ON l_partkey = p_partkey
          |WHERE l_quantity < 0.2 * avg_qty
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    QuerySpec("q21_last_shippers", (s, dir) =>
      // TPC-H Q21 shape: the EXISTS/NOT-EXISTS correlated pair as one
      // per-order aggregate + a last-date join-back + a sole-supplier check
      Analytics.soleLastShippers(Tables.supplier(s, dir),
        Tables.lineitem(s, dir), k = 25),
      Oracle(
        """WITH per AS MATERIALIZED (
          |  SELECT l_orderkey AS po_orderkey, max(l_shipdate) AS last_ship
          |  FROM lineitem GROUP BY 1 HAVING count(DISTINCT l_suppkey) >= 2),
          |lastl AS MATERIALIZED (
          |  SELECT DISTINCT l_orderkey, l_suppkey
          |  FROM lineitem JOIN per ON l_orderkey = po_orderkey AND l_shipdate = last_ship),
          |sole AS (SELECT l_orderkey, max(l_suppkey) AS suppkey
          |         FROM lastl GROUP BY 1 HAVING count(*) = 1)
          |SELECT s_name, count(*) AS numwait
          |FROM sole JOIN supplier ON suppkey = s_suppkey
          |GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 25""".stripMargin)),

    QuerySpec("q7_nation_trade", (s, dir) =>
      // TPC-H Q7 shape: bilateral trade by year — both dim chains pruned
      // to the two nations then broadcast; cross-pair disjunction after
      Analytics.nationTradeVolume(Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir),
        Tables.orders(s, dir), lineitemNtz(s, dir),
        nationA = "NATION_1", nationB = "NATION_2"),
      Oracle(
        """SELECT supp_nation, cust_nation,
          |  CAST(year(l_shipdate) AS INTEGER) AS l_year,
          |  CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
          |    AS revenue
          |FROM lineitem
          |JOIN orders ON l_orderkey = o_orderkey
          |JOIN (SELECT c_custkey, n_name AS cust_nation
          |      FROM customer JOIN nation ON c_nationkey = n_nationkey
          |      WHERE n_name IN ('NATION_1', 'NATION_2')) c ON o_custkey = c_custkey
          |JOIN (SELECT s_suppkey, n_name AS supp_nation
          |      FROM supplier JOIN nation ON s_nationkey = n_nationkey
          |      WHERE n_name IN ('NATION_1', 'NATION_2')) s ON l_suppkey = s_suppkey
          |WHERE (supp_nation = 'NATION_1' AND cust_nation = 'NATION_2')
          |   OR (supp_nation = 'NATION_2' AND cust_nation = 'NATION_1')
          |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    QuerySpec("q19_disjunctive", (s, dir) =>
      // TPC-H Q19 shape: three OR'd (brand, size, qty) clauses in ONE
      // scan + broadcast probe
      Analytics.disjunctiveRevenue(Tables.part(s, dir), Tables.lineitem(s, dir)),
      Oracle(
        """SELECT CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(28,6))) AS DOUBLE)
          |    AS revenue,
          |  count(*) AS n_lines
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
          |   OR (p_brand = 'Brand#22' AND p_size BETWEEN 16 AND 30 AND l_quantity BETWEEN 10 AND 20)
          |   OR (p_brand = 'Brand#33' AND p_size BETWEEN 31 AND 50 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    QuerySpec("q20_dominant_suppliers", (s, dir) =>
      // TPC-H Q20 shape: nested aggregate + share filter + PROMO semi-join
      Analytics.dominantSuppliers(Tables.supplier(s, dir), Tables.part(s, dir),
        Tables.lineitem(s, dir), share = 0.15, minParts = 1L),
      Oracle(
        """WITH ps AS MATERIALIZED (
          |  SELECT l_partkey, l_suppkey,
          |    CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sq
          |  FROM lineitem GROUP BY 1, 2),
          |p AS (SELECT l_partkey, CAST(sum(CAST(sq AS DECIMAL(28,6))) AS DOUBLE) AS tq
          |      FROM ps GROUP BY 1),
          |dom AS (SELECT ps.l_suppkey FROM ps JOIN p USING (l_partkey)
          |        WHERE sq > 0.15 * tq
          |          AND l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'PROMO')),
          |agg AS (SELECT l_suppkey, count(*) AS n_parts FROM dom GROUP BY 1
          |        HAVING count(*) >= 1)
          |SELECT s_name, n_parts FROM agg JOIN supplier ON l_suppkey = s_suppkey
          |ORDER BY n_parts DESC, s_name""".stripMargin)),

    QuerySpec("q_fk_integrity", (s, dir) => {
      // referential-integrity audit across the warehouse's declared FK
      // edges (the data-quality gate a pipeline runs after every load):
      // per edge, child row count + orphan count via one left-anti join
      // against the parent's key projection — small parents broadcast,
      // the lineitem→orders edge shuffles on the uniform key; output is
      // one metadata-sized row per edge
      def edge(name: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
        val keys = parent.select(col(pk)).distinct()
        val orphans = child.join(
          if (bcast) broadcast(keys) else keys,
          child(ck) === keys(pk), "left_anti")
        child.agg(count(lit(1)).as("n_rows")).crossJoin(
          orphans.agg(count(lit(1)).as("n_orphans")))
          .select(lit(name).as("fk"), col("n_rows"), col("n_orphans"))
      }
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      val supp = Tables.supplier(s, dir)
      val nat = Tables.nation(s, dir)
      val reg = Tables.region(s, dir)
      val part = Tables.part(s, dir)
      edge("lineitem.l_orderkey->orders", li, "l_orderkey", ord, "o_orderkey", bcast = false)
        .unionAll(edge("lineitem.l_partkey->part", li, "l_partkey", part, "p_partkey", bcast = true))
        .unionAll(edge("orders.o_custkey->customer", ord, "o_custkey", cust, "c_custkey", bcast = true))
        .unionAll(edge("customer.c_nationkey->nation", cust, "c_nationkey", nat, "n_nationkey", bcast = true))
        .unionAll(edge("supplier.s_nationkey->nation", supp, "s_nationkey", nat, "n_nationkey", bcast = true))
        .unionAll(edge("nation.n_regionkey->region", nat, "n_regionkey", reg, "r_regionkey", bcast = true))
    },
      Oracle(
        """SELECT 'lineitem.l_orderkey->orders' AS fk,
          |  (SELECT count(*) FROM lineitem) AS n_rows,
          |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          |     (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
          |UNION ALL
          |SELECT 'lineitem.l_partkey->part',
          |  (SELECT count(*) FROM lineitem),
          |  (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
          |     (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
          |UNION ALL
          |SELECT 'orders.o_custkey->customer',
          |  (SELECT count(*) FROM orders),
          |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
          |     (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
          |UNION ALL
          |SELECT 'customer.c_nationkey->nation',
          |  (SELECT count(*) FROM customer),
          |  (SELECT count(*) FROM customer c WHERE NOT EXISTS
          |     (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey))
          |UNION ALL
          |SELECT 'supplier.s_nationkey->nation',
          |  (SELECT count(*) FROM supplier),
          |  (SELECT count(*) FROM supplier s WHERE NOT EXISTS
          |     (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey))
          |UNION ALL
          |SELECT 'nation.n_regionkey->region',
          |  (SELECT count(*) FROM nation),
          |  (SELECT count(*) FROM nation n WHERE NOT EXISTS
          |     (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey))""".stripMargin)),

    QuerySpec("q_salted_join", (s, dir) => {
      // skew-salted fact⋈dim join, aggregated — the oracle is the PLAIN
      // join, proving salting preserves join semantics exactly
      val dim = Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      Skew.saltedJoin(
          Tables.lineitem(s, dir).select("l_partkey", "l_quantity"), dim, "l_partkey", 8)
        .groupBy(col("p_brand"))
        .agg(exactSumD(col("l_quantity")).as("sum_qty"))
    },
      Oracle(
        """SELECT p_brand,
          | CAST(sum(CAST(l_quantity AS DECIMAL(28,6))) AS DOUBLE) AS sum_qty
          |FROM lineitem JOIN part ON l_partkey = p_partkey
          |GROUP BY p_brand""".stripMargin))
  )
}
