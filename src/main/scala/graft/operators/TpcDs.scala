package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.Tables

/** TPC-DS signature shapes. BASELINE.md's second benchmark table is the
  * reference's TPC-DS 1 TB run (`contrib/pax_storage/doc/performance.md:
  * 69-185`), and it names the four slowest queries: q72 (1:06), q23
  * (0:50 as "q0" pairing), q23 (0:44), q67 (0:41). This battery carries
  * the SHAPE of each of those slowest queries — the join/window/rollup
  * structure that makes them the slowest — re-targeted at the driver's
  * star schema (no store/catalog/web channel split, no inventory or
  * date_dim tables):
  *
  *  - ds72: the fact-to-fact availability join (catalog_sales ⋈
  *    inventory on item × NEXT week with a shortfall predicate, LEFT
  *    JOIN retained) becomes demand-vs-next-week-supply over two
  *    lineitem aggregates.
  *  - ds23: the multi-CTE "best customers × frequent items" funnel
  *    (frequent_ss_items / max_store_sales / best_ss_customer) with an
  *    uncorrelated scalar MAX threshold and two IN-subqueries.
  *  - ds67: ROLLUP over (brand, type, year, month) ranked within brand,
  *    rank ≤ N — the rollup × window combination.
  *  - ds51: per-key cumulative-sum windows on two channels FULL OUTER
  *    JOINed, gap-filled with running MAX, filtered where one channel's
  *    cumulative total overtakes the other.
  *
  * Round 13 extends the battery to the NEXT four slowest published
  * queries (performance.md:83/93/103/107 — q4 0:22, q14 0:25, q24
  * 0:15 PAX / 0:36 AOCS, q28 0:21):
  *
  *  - ds04: year_total CTE × 4-way self-join, growth-ratio comparison
  *    across two channels (q4's year-over-year shape).
  *  - ds14: cross-channel item INTERSECT + scalar average threshold +
  *    ROLLUP-with-HAVING (q14's cross_items/avg_sales shape).
  *  - ds24: compound-key purchase⋈return match + HAVING vs a scalar
  *    average over the same grouped relation (q24's netpaid shape).
  *  - ds28: six OR'd-predicate bands with count(DISTINCT) each,
  *    collapsed from the spec's six scans into ONE FILTER'd-aggregate
  *    scan sharing a single Expand for the distinct counts.
  *
  * Like TpcH, each query is ONE SQL text shared verbatim between the
  * Spark plan and the DuckDB oracle; money stays in BIGINT cents until
  * the output edge, and every DuckDB HUGEINT-producing sum is cast back
  * to BIGINT (comparator invariant, see Verify.scala).
  *
  * Scale notes: ds72/ds51's both-sides-fact joins shuffle on (part) /
  * (item) keys — the partition-aligned exchange a 1000-executor run
  * needs; ds23's dim-sized CTE results broadcast into the fact scan;
  * ds67's rollup is one Expand + hash aggregate, rank a single ordered
  * window per brand partition.
  *
  * Round 15 extends to the next nine slowest uncovered published rows
  * (performance.md — q11 0:14, q74 0:13, q9 0:10, q66 0:09, the three
  * 0:08 rows q13/q47/q80, and q65/q70 at 0:07): ds09 (the banded-probe
  * scalar sheet, collapsed to one FILTER'd-aggregate scan), ds11
  * (year_total with customer dims in the aggregate key + CASE-guarded
  * ratios), ds66 (two-carrier monthly pivot-rollup, the channel blocks
  * collapsed to one (wh, carrier) scan), ds74 (the union-tagged
  * year_total from two DIFFERENT source relations), ds13 (OR'd
  * conjunct-pairs spanning fact + two dims), ds47 (the windowed-
  * deviation shape — year-avg + lag + lead over the monthly
  * aggregate), ds80 (three-channel sales/returns/profit ROLLUP under
  * EagerAggRule — its second user), ds65 (one aggregate referenced at
  * two derivation levels — the ShareInputScan motivating query), ds70
  * (ROLLUP × GROUPING()-partitioned rank × ranked-subquery filter,
  * EagerAggRule's third user). The 0:06 class adds three more shapes:
  * ds16 (the EXISTS + NOT EXISTS shipping audit — q94's web sibling
  * shares the shape), ds18 (3-deep averages rollup in exact integer
  * micro-units — EagerAggRule's fourth user), ds31 (the 6×-referenced
  * quarter-over-quarter growth chain); ds35 pins the disjunctive
  * EXISTS (the battery's first ExistenceJoin — q10 shares the
  * construction). 33 published rows total.
  * Row-0 adjudication (r14 verdict): the published table
  * lists rows 0–99 for a 99-query benchmark; rows 1..99 align 1:1
  * with q1..q99 (every named slow row matches its spec shape — 72 the
  * fact-to-fact monster, 23/14/4 the funnel family), and TPC-DS
  * defines no "query 0", so row 0 (0:50) is a harness artifact (the
  * kit's warmup/validation statement), not an additional spec shape —
  * nothing to carry.
  *
  * Round 16 extends to the next four slowest uncovered rows
  * (performance.md:128/84/87/158 — q49 0:07, q5 0:07, q8 0:07, q79
  * 0:07): ds49 (the three-channel worst-return-ratios report — the
  * battery's first window-then-UNION-then-dedup shape: per-channel
  * windowed ranks, rank-≤-10 filters, UNION distinct across
  * channels), ds05 (per-channel UNION ALL of sales and returns
  * PROJECTIONS — returns zero the sales column and negate profit —
  * feeding one ROLLUP(channel, nation), EagerAggRule's fifth user),
  * ds08 (a literal VALUES code list INTERSECTed with an
  * aggregate-HAVING-derived preferred-customer code set, the result
  * semi-joined into the star — q8's zip-prefix funnel over phone
  * country codes), ds79 (the store-visit shape: a fact-scale
  * composite-visit-key aggregate — (order, nation) grain, ds72's
  * cardinality class — under an OR'd dim band, with the customer dim
  * joined OUTSIDE the aggregate and substr in the output ordering).
  * Covered-elsewhere adjudications, same pass: q48 (0:07,
  * performance.md:127) is the OR'd multi-dim conjunct-band scan —
  * exactly ds13's pinned shape (q13 and q48 share the construction in
  * the spec; q48 drops q13's averages for one sum, structurally a
  * subset) — no new row spent; q2 (0:06, performance.md:81) is the
  * week-over-year ratio sheet = ds59's weekday pivot × ds74's
  * union-tagged two-source year totals, both pinned. 37 published
  * rows total.
  */
object TpcDs {

  private val epc = "CAST(round(l_extendedprice * 100) AS BIGINT)"

  /** ds39's twice-referenced per-(part,month) moment CTE — spooled once
    * on the Spark side (GP materializes multi-referenced CTEs; Spark
    * would inline → two fact scans + two aggregates), inlined into the
    * oracle text. Moments are EXACT BIGINTs (n, Σq, Σq²); the
    * coefficient-of-variation filter is the cross-multiplied integer
    * inequality var_samp > θ²·mean² ⇔ den²·n·(n·Σq² − (Σq)²) >
    * num²·(n−1)·(Σq)² with θ = 4/5 — no floating accumulation, no
    * drift (stddev()/avg() over doubles is order-dependent; the spec's
    * `stdev/mean > 1` threshold keeps ~1 row at bench SF on this data,
    * so the published shape is kept and only θ is retuned). Products
    * stay BIGINT-safe far past bench SF; at true 100 TB group sizes
    * the same filter re-derives over (mean, var) doubles at the edge. */
  private val Ds39Cov = """
        SELECT part, mon, n, s, ss FROM (
          SELECT l_partkey AS part, month(l_shipdate) AS mon,
                 count(*) AS n,
                 CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s,
                 CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS ss
          FROM lineitem WHERE year(l_shipdate) = 1997
          GROUP BY 1, 2) inv
        WHERE n >= 2 AND 25 * n * (n * ss - s * s) > 16 * (n - 1) * s * s"""

  /** ds39's outer consecutive-month self-join — IDENTICAL text both
    * engines; `cov39` resolves to the spooled temp view in Spark, the
    * CTE in DuckDB. Emitted mean/cov divide the exact moments once at
    * the output edge (sqrt and / are correctly-rounded IEEE ops —
    * bit-identical across engines given identical integer inputs). */
  private val Ds39Outer = """
      SELECT i1.part, i1.mon AS mon1,
             round(CAST(i1.s AS DOUBLE) / i1.n, 2) AS mean1,
             round(sqrt((CAST(i1.n AS DOUBLE) * i1.ss - CAST(i1.s AS DOUBLE) * i1.s)
                        / (CAST(i1.n AS DOUBLE) * (i1.n - 1)))
                   / (CAST(i1.s AS DOUBLE) / i1.n), 4) AS cov1,
             round(CAST(i2.s AS DOUBLE) / i2.n, 2) AS mean2,
             round(sqrt((CAST(i2.n AS DOUBLE) * i2.ss - CAST(i2.s AS DOUBLE) * i2.s)
                        / (CAST(i2.n AS DOUBLE) * (i2.n - 1)))
                   / (CAST(i2.s AS DOUBLE) / i2.n), 4) AS cov2
      FROM cov39 i1, cov39 i2
      WHERE i1.part = i2.part AND i1.mon + 1 = i2.mon
      ORDER BY i1.part, i1.mon"""

  /** ds64's twice-referenced wide-join CTE (8 relations) — the expensive
    * one; spooled once on the Spark side like ds04's year_total.
    * This is the ORACLE text (spec spelling, count(DISTINCT)); the Spark
    * side runs [[Ds64CrossSalesSpark]] below. */
  private val Ds64CrossSales = """
        SELECT p_partkey AS item, p_brand AS brand, year(o_orderdate) AS yr,
               count(*) AS cnt,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sale_c,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_c,
               count(DISTINCT n_name) AS n_nations,
               count(DISTINCT s_suppkey) AS n_supps
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE year(o_orderdate) IN (1996, 1997) AND l_returnflag = 'N'
          AND l_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        GROUP BY 1, 2, 3"""

  /** ds64's Spark-side spool text (r18, guide §2.3 — shuffle fewer
    * bytes): the spec's two count(DISTINCT)s plan as a multi-DQA
    * Expand that triples the 8-relation join output through the
    * aggregate. Both distinct sets are physically bounded per group —
    * nations by geography (≤ 25), suppliers by the per-part supplier
    * list (4 in the data model) — so size(collect_set(...)) computes
    * the identical counts with ×1 rows through a map-side-combinable
    * aggregate and bounded per-group state. The oracle keeps the spec
    * count(DISTINCT) text; the hash compare proves the counts equal. */
  private val Ds64CrossSalesSpark = """
        SELECT p_partkey AS item, p_brand AS brand, year(o_orderdate) AS yr,
               count(*) AS cnt,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sale_c,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_c,
               CAST(size(collect_set(n_name)) AS BIGINT) AS n_nations,
               CAST(size(collect_set(s_suppkey)) AS BIGINT) AS n_supps
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        WHERE year(o_orderdate) IN (1996, 1997) AND l_returnflag = 'N'
          AND l_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_returnflag = 'R')
        GROUP BY 1, 2, 3"""

  /** q59 (0:12 published, performance.md:129): weekly sales pivoted to
    * weekday columns, self-joined on the SAME (key, week) one year
    * apart, emitting per-weekday growth ratios. The weekday pivot is
    * FILTER'd sums in one aggregate (the ds88 collapse — never seven
    * scans); the self-join runs over the |nations × weeks| aggregate.
    * Parameterized on the day-of-week expression because the engines
    * spell Monday=0 differently (Spark `weekday()`, DuckDB
    * `isodow()-1`) — the ONLY divergent token; weeks clip to 2..50 so
    * ISO week-of-year edge conventions can't disagree at the year
    * boundary. */
  private def ds59Wk(dow: String): String = s"""
        SELECT n_name AS nat, year(o_orderdate) AS yr, weekofyear(o_orderdate) AS wk,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE $dow = 0) AS BIGINT) AS mon_c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE $dow = 1) AS BIGINT) AS tue_c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE $dow = 2) AS BIGINT) AS wed_c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE $dow = 3) AS BIGINT) AS thu_c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE $dow = 4) AS BIGINT) AS fri_c,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE $dow >= 5) AS BIGINT) AS wend_c
        FROM orders JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE weekofyear(o_orderdate) BETWEEN 2 AND 50 AND year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2, 3"""

  /** ds59's outer one-year-apart self-join — runs over the spooled wk
    * aggregate in Spark (2×-referenced CTE, the ds39 discipline), the
    * CTE in DuckDB. */
  private val Ds59Outer = """
      SELECT w1.nat, w1.wk,
             round(CAST(w2.mon_c AS DOUBLE) / w1.mon_c, 4) AS mon_ratio,
             round(CAST(w2.tue_c AS DOUBLE) / w1.tue_c, 4) AS tue_ratio,
             round(CAST(w2.wed_c AS DOUBLE) / w1.wed_c, 4) AS wed_ratio,
             round(CAST(w2.thu_c AS DOUBLE) / w1.thu_c, 4) AS thu_ratio,
             round(CAST(w2.fri_c AS DOUBLE) / w1.fri_c, 4) AS fri_ratio,
             round(CAST(w2.wend_c AS DOUBLE) / w1.wend_c, 4) AS wend_ratio
      FROM wk59 w1 JOIN wk59 w2 ON w1.nat = w2.nat AND w1.wk = w2.wk
      WHERE w1.yr = 1996 AND w2.yr = 1997
      ORDER BY w1.nat, w1.wk"""

  private def ds59Text(dow: String): String =
    s"WITH wk59 AS (${ds59Wk(dow)}) $Ds59Outer"

  /** ds64's outer two-year self-join over the spool. */
  private val Ds64Outer = """
      SELECT cs1.item, cs1.brand, cs1.cnt AS cnt1, cs2.cnt AS cnt2,
             cs1.n_nations AS nat1, cs2.n_nations AS nat2,
             cs1.n_supps AS sup1, cs2.n_supps AS sup2,
             round(CAST(cs1.sale_c AS DOUBLE) / 100.0, 2) AS sale1,
             round(CAST(cs2.sale_c AS DOUBLE) / 100.0, 2) AS sale2,
             round(CAST(cs1.net_c AS DOUBLE) / 100.0, 2) AS net1,
             round(CAST(cs2.net_c AS DOUBLE) / 100.0, 2) AS net2
      FROM cross_sales64 cs1 JOIN cross_sales64 cs2
        ON cs1.item = cs2.item AND cs1.brand = cs2.brand
      WHERE cs1.yr = 1996 AND cs2.yr = 1997 AND cs2.cnt <= cs1.cnt
      ORDER BY cs1.item, cs1.brand"""

  /** ds11's multi-referenced CTE body (q11's year_total — the customer
    * DIMENSION columns ride the aggregate key, q11's signature: the
    * spec groups by every customer attribute). Functionally dependent
    * on cust, so the group-by widening adds no rows; the self-joins
    * still key on cust alone. Spooled once on the Spark side (4 refs),
    * inlined into the oracle text. */
  private val Ds11YearTotal = """
        SELECT o_custkey AS cust, c_name, n_name AS nation,
               l_returnflag AS channel, year(o_orderdate) AS yr,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE l_returnflag IN ('N', 'R') AND year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2, 3, 4, 5"""

  /** ds11's outer 4-way self-join with q11's CASE-guarded ratio
    * comparison (vs ds04's cross-multiplied integer predicate — this
    * pins the OTHER published spelling: each side's growth ratio is a
    * CASE WHEN first_year > 0 THEN second/first ELSE 0 END, and the
    * division of identical exact BIGINTs is a correctly-rounded IEEE
    * op, so the comparison can't drift cross-engine). */
  private val Ds11Outer = """
      SELECT n1.cust, n1.c_name, n1.nation,
             round(CASE WHEN r1.total_c > 0
                        THEN CAST(r2.total_c AS DOUBLE) / r1.total_c
                        ELSE 0.0 END, 4) AS ret_ratio,
             round(CASE WHEN n1.total_c > 0
                        THEN CAST(n2.total_c AS DOUBLE) / n1.total_c
                        ELSE 0.0 END, 4) AS kept_ratio
      FROM year_total11 n1, year_total11 n2, year_total11 r1, year_total11 r2
      WHERE n1.cust = n2.cust AND n1.cust = r1.cust AND n1.cust = r2.cust
        AND n1.channel = 'N' AND n2.channel = 'N'
        AND r1.channel = 'R' AND r2.channel = 'R'
        AND n1.yr = 1996 AND n2.yr = 1997 AND r1.yr = 1996 AND r2.yr = 1997
        AND CASE WHEN r1.total_c > 0
                 THEN CAST(r2.total_c AS DOUBLE) / r1.total_c ELSE 0.0 END
          > CASE WHEN n1.total_c > 0
                 THEN CAST(n2.total_c AS DOUBLE) / n1.total_c ELSE 0.0 END
      ORDER BY n1.cust"""

  /** ds74's multi-referenced CTE body (q74's year_total — the channels
    * come from DIFFERENT source relations, each branch tagged with a
    * sale_type literal and UNION ALLed; q4/q11 classify ONE relation
    * instead, so this pins the union-tagged construction the spec uses
    * because its channels are separate fact tables). Branch 's' =
    * per-customer order-header totals (orders alone); branch 'w' =
    * per-customer kept-line revenue (lineitem ⋈ orders). */
  private val Ds74YearTotal = """
        SELECT o_custkey AS cust, 's' AS sale_type, year(o_orderdate) AS yr,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders WHERE year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 3
        UNION ALL
        SELECT o_custkey AS cust, 'w' AS sale_type, year(o_orderdate) AS yr,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'N' AND year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 3"""

  /** ds74's outer 4-way self-join over the union — q74's CASE-guarded
    * ratio comparison between the two differently-sourced channels. */
  private val Ds74Outer = """
      SELECT s1.cust,
             round(CASE WHEN s1.total_c > 0
                        THEN CAST(s2.total_c AS DOUBLE) / s1.total_c
                        ELSE 0.0 END, 4) AS s_ratio,
             round(CASE WHEN w1.total_c > 0
                        THEN CAST(w2.total_c AS DOUBLE) / w1.total_c
                        ELSE 0.0 END, 4) AS w_ratio
      FROM year_total74 s1, year_total74 s2, year_total74 w1, year_total74 w2
      WHERE s1.cust = s2.cust AND s1.cust = w1.cust AND s1.cust = w2.cust
        AND s1.sale_type = 's' AND s2.sale_type = 's'
        AND w1.sale_type = 'w' AND w2.sale_type = 'w'
        AND s1.yr = 1996 AND s2.yr = 1997 AND w1.yr = 1996 AND w2.yr = 1997
        AND CASE WHEN w1.total_c > 0
                 THEN CAST(w2.total_c AS DOUBLE) / w1.total_c ELSE 0.0 END
          > CASE WHEN s1.total_c > 0
                 THEN CAST(s2.total_c AS DOUBLE) / s1.total_c ELSE 0.0 END
      ORDER BY s1.cust"""

  /** ds65's twice-referenced per-(store, item) revenue aggregate —
    * spooled once on the Spark side (q65 is the ShareInputScan
    * motivating query), inlined into the oracle text. */
  private val Ds65ItemRev = """
        SELECT n_name AS nat, l_partkey AS part,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        GROUP BY 1, 2"""

  /** ds65's outer: the spool re-aggregated per store joins back to the
    * spool's own rows; the below-half-average test is exact-integer. */
  private val Ds65Outer = """
      SELECT ir.nat, ir.part,
             round(CAST(ir.rev_c AS DOUBLE) / 100.0, 2) AS revenue,
             round(CAST(sa.total_c AS DOUBLE) / sa.n_items / 100.0, 2) AS avg_item_revenue
      FROM item_rev ir
      JOIN (SELECT nat, CAST(sum(rev_c) AS BIGINT) AS total_c, count(*) AS n_items
            FROM item_rev GROUP BY nat) sa ON ir.nat = sa.nat
      WHERE 2 * ir.rev_c * sa.n_items < sa.total_c
      ORDER BY ir.nat, ir.part"""

  /** ds65's Spark-side execution (r19, guide §2.4 — a window partitioned
    * by the aggregation's own key needs no second pass): the spec's
    * self-reference (per-nat totals joined back to per-(nat, part) rows)
    * is ONE window over the aggregate — no spool job, no re-aggregate,
    * no join. total_c/n_items per nat are the same exact BIGINTs, the
    * below-half-average predicate is the identical integer compare.
    * Oracle keeps the spool+join spec text; hash compare proves it. */
  private val Ds65Window = s"""
      WITH item_rev AS ($Ds65ItemRev),
      w AS (
        SELECT nat, part, rev_c,
               CAST(sum(rev_c) OVER (PARTITION BY nat) AS BIGINT) AS total_c,
               count(*) OVER (PARTITION BY nat) AS n_items
        FROM item_rev)
      SELECT nat, part,
             round(CAST(rev_c AS DOUBLE) / 100.0, 2) AS revenue,
             round(CAST(total_c AS DOUBLE) / n_items / 100.0, 2) AS avg_item_revenue
      FROM w
      WHERE 2 * rev_c * n_items < total_c
      ORDER BY nat, part"""

  /** ds70's Spark-side base (r19, guide §2.4/§6 — one fact scan, not
    * two): the spec text derives the SAME 5-relation join+aggregate
    * twice — once to rank regions (top_regions) and once under the
    * ROLLUP (agg). The finest (r_name, n_name) profit aggregate is
    * sufficient for both: region totals re-aggregate from it exactly
    * (BIGINT cent sums — associative), and the ROLLUP over it produces
    * the identical groups and sums the ROLLUP over raw join rows did.
    * ≤ |nations| rows after one scan; spooled, the Expand and both
    * rank windows run census-sized. Oracle keeps the two-scan spec
    * text — the hash compare proves equivalence every run. */
  private val Ds70Base = """
        SELECT r_name, n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS profit_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name"""

  private val Ds70Outer = """
      WITH top_regions AS (
        SELECT r_name FROM (
          SELECT r_name,
                 rank() OVER (ORDER BY CAST(sum(profit_c) AS BIGINT) DESC) AS rnk
          FROM base70 GROUP BY r_name) t
        WHERE rnk <= 3),
      agg AS (
        SELECT r_name, n_name,
               CAST(sum(profit_c) AS BIGINT) AS profit_c,
               grouping(r_name) + grouping(n_name) AS lochierarchy,
               grouping(n_name) AS g_n
        FROM base70
        WHERE r_name IN (SELECT r_name FROM top_regions)
        GROUP BY ROLLUP(r_name, n_name))
      SELECT lochierarchy, r_name, n_name,
             round(CAST(profit_c AS DOUBLE) / 100.0, 2) AS profit,
             rank() OVER (PARTITION BY lochierarchy,
                            CASE WHEN g_n = 0 THEN r_name END
                          ORDER BY profit_c DESC) AS rank_within
      FROM agg
      ORDER BY lochierarchy DESC, r_name NULLS FIRST, rank_within, n_name NULLS FIRST"""

  /** ds18's shared text modulo the integer-division token (Spark
    * `div`, DuckDB `//`): every average is (2·sum·u + n) div (2·n) —
    * round-half-up of sum·u/n in pure BIGINT arithmetic (all measures
    * non-negative, so truncating vs flooring division cannot
    * diverge); u picks the micro-unit (1e-4 of the measure's natural
    * unit; discount's natural unit is already 1e-4, so its column is
    * 1e-6 of the raw fraction). */
  private def ds18Text(idiv: String): String = s"""
      WITH base AS (
        SELECT r_name, n_name, c_mktsegment,
               CAST(l_quantity AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(round(l_discount * 10000) AS BIGINT) AS disc_4,
               CAST(round(l_tax * 10000) AS BIGINT) AS tax_4
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE year(o_orderdate) = 1997)
      SELECT r_name, n_name, c_mktsegment,
        CAST((2 * sum(qty) * 10000 + count(*)) $idiv (2 * count(*)) AS BIGINT) AS avg_qty_1e4,
        CAST((2 * sum(price_c) * 100 + count(*)) $idiv (2 * count(*)) AS BIGINT) AS avg_price_1e4,
        CAST((2 * sum(disc_4) * 100 + count(*)) $idiv (2 * count(*)) AS BIGINT) AS avg_disc_1e6,
        CAST((2 * sum(tax_4) * 100 + count(*)) $idiv (2 * count(*)) AS BIGINT) AS avg_tax_1e6,
        count(*) AS n
      FROM base GROUP BY ROLLUP(r_name, n_name, c_mktsegment)
      ORDER BY r_name NULLS FIRST, n_name NULLS FIRST, c_mktsegment NULLS FIRST"""

  /** ds14's Spark-side spelling: the 3-way INTERSECT of distinct
    * l_partkey sets = one flag aggregate (see the queries() branch).
    * Everything below cross_items is byte-identical to the oracle. */
  private val Ds14FlagText = """
      WITH cross_items AS (
        SELECT l_partkey AS item FROM lineitem
        GROUP BY l_partkey
        HAVING max(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) = 1
           AND max(CASE WHEN l_returnflag = 'N' THEN 1 ELSE 0 END) = 1
           AND max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) = 1),
      avg_sales AS (
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
               / count(*) AS average_sales
        FROM lineitem),
      sales AS (
        SELECT l_returnflag AS channel, p_brand,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sales_c,
               count(*) AS n_lines
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_partkey IN (SELECT item FROM cross_items)
          AND year(l_shipdate) = 1997
        GROUP BY ROLLUP(l_returnflag, p_brand)
        HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
               > (SELECT average_sales FROM avg_sales))
      SELECT channel, p_brand, round(CAST(sales_c AS DOUBLE) / 100.0, 2) AS sales, n_lines
      FROM sales
      ORDER BY channel NULLS FIRST, p_brand NULLS FIRST, sales"""

  /** ds31's SIX-times-referenced per-(geo, quarter, channel) total —
    * the widest CTE fan-out in the battery (q31 joins its ss/ws CTEs
    * six ways across three consecutive quarters × two channels).
    * Spooled once on the Spark side; inlined in the oracle. */
  private val Ds31QTotal = """
        SELECT n_name AS geo, quarter(o_orderdate) AS q, l_returnflag AS ch,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        WHERE year(o_orderdate) = 1997 AND l_returnflag IN ('N', 'R')
          AND quarter(o_orderdate) <= 3
        GROUP BY 1, 2, 3"""

  /** ds31's outer 6-way self-join: both growth transitions (q1→q2,
    * q2→q3) must be faster on the 'R' channel than the 'N' channel —
    * the comparisons are cross-multiplied exact BIGINTs (a/b > c/d ⇔
    * a·d > c·b for positive totals), never ratio doubles. */
  private val Ds31Outer = """
      SELECT n1.geo,
             round(CAST(n2.total_c AS DOUBLE) / n1.total_c, 4) AS n_g1,
             round(CAST(n3.total_c AS DOUBLE) / n2.total_c, 4) AS n_g2,
             round(CAST(r2.total_c AS DOUBLE) / r1.total_c, 4) AS r_g1,
             round(CAST(r3.total_c AS DOUBLE) / r2.total_c, 4) AS r_g2
      FROM qt31 n1, qt31 n2, qt31 n3, qt31 r1, qt31 r2, qt31 r3
      WHERE n1.geo = n2.geo AND n1.geo = n3.geo
        AND n1.geo = r1.geo AND n1.geo = r2.geo AND n1.geo = r3.geo
        AND n1.ch = 'N' AND n2.ch = 'N' AND n3.ch = 'N'
        AND r1.ch = 'R' AND r2.ch = 'R' AND r3.ch = 'R'
        AND n1.q = 1 AND n2.q = 2 AND n3.q = 3
        AND r1.q = 1 AND r2.q = 2 AND r3.q = 3
        AND n1.total_c > 0 AND n2.total_c > 0 AND r1.total_c > 0 AND r2.total_c > 0
        AND r2.total_c * n1.total_c > n2.total_c * r1.total_c
        AND r3.total_c * n2.total_c > n3.total_c * r2.total_c
      ORDER BY n1.geo"""

  /** ds04's multi-referenced CTE body — spooled once on the Spark side
    * (see the ds04 comment below), inlined into the oracle text. */
  private val Ds04YearTotal = """
        SELECT o_custkey AS cust, l_returnflag AS channel, year(o_orderdate) AS yr,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM lineitem, orders
        WHERE l_orderkey = o_orderkey AND l_returnflag IN ('N', 'R')
          AND year(o_orderdate) IN (1996, 1997)
        GROUP BY 1, 2, 3"""

  /** ds04's outer self-join — IDENTICAL text both engines; `year_total`
    * resolves to the spooled temp view in Spark, the CTE in DuckDB. */
  private val Ds04Outer = """
      SELECT n1.cust,
             round(CAST(n2.total_c AS DOUBLE) / CAST(n1.total_c AS DOUBLE), 4) AS kept_ratio,
             round(CAST(r2.total_c AS DOUBLE) / CAST(r1.total_c AS DOUBLE), 4) AS ret_ratio
      FROM year_total n1, year_total n2, year_total r1, year_total r2
      WHERE n1.cust = n2.cust AND n1.cust = r1.cust AND n1.cust = r2.cust
        AND n1.channel = 'N' AND n2.channel = 'N' AND r1.channel = 'R' AND r2.channel = 'R'
        AND n1.yr = 1996 AND n2.yr = 1997 AND r1.yr = 1996 AND r2.yr = 1997
        AND n1.total_c > 0 AND r1.total_c > 0
        AND r2.total_c * n1.total_c > n2.total_c * r1.total_c
      ORDER BY n1.cust"""

  /** ds44's per-item performance aggregate — referenced SIX ways in the
    * outer (two rank windows, four scalar threshold subqueries), spooled
    * once on the Spark side; |parts|-bounded. */
  private val Ds44Perf = """
        SELECT l_partkey AS item,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_c
        FROM lineitem WHERE l_returnflag = 'N' GROUP BY l_partkey"""

  /** ds44's outer: ascending and descending ranks over the SAME
    * above-threshold slice (items above 0.9× the mean item net — the
    * threshold cross-multiplied in exact integers: 10·net·n > 9·tot ⇔
    * net > 0.9·avg), joined ON RANK so row k pairs k-th best with k-th
    * worst; the item dim joins twice above the windows. */
  private val Ds44Outer = """
      SELECT b.rnk, p1.p_name AS best_performing, p2.p_name AS worst_performing
      FROM (SELECT item, rank() OVER (ORDER BY net_c DESC) AS rnk FROM perf
            WHERE 10 * net_c * (SELECT count(*) FROM perf)
                > 9 * (SELECT CAST(sum(net_c) AS BIGINT) FROM perf)) b
      JOIN (SELECT item, rank() OVER (ORDER BY net_c ASC) AS rnk FROM perf
            WHERE 10 * net_c * (SELECT count(*) FROM perf)
                > 9 * (SELECT CAST(sum(net_c) AS BIGINT) FROM perf)) w
        ON b.rnk = w.rnk
      JOIN part p1 ON b.item = p1.p_partkey
      JOIN part p2 ON w.item = p2.p_partkey
      WHERE b.rnk <= 10
      ORDER BY b.rnk, best_performing, worst_performing"""

  /** One ds49 channel block: per-item return/currency ratios over the
    * channel's priority slice, ranked by both ratios, head of either
    * ranking kept. The ratios divide exact BIGINT sums as DOUBLEs —
    * IEEE division of identical exact inputs is bit-identical across
    * engines, so the rank ordering can never diverge; rounding happens
    * only at the output edge (ds78's convention). The sold-side HAVING
    * guards carry q49's `quantity > 0 AND net_paid > 0` zero-division
    * guards. */
  private def ds49Block(tag: String, pred: String): String = s"""
    SELECT w49.* FROM (
      SELECT '$tag' AS channel, item,
             round(rr, 4) AS return_ratio, round(cr, 4) AS currency_ratio,
             rank() OVER (ORDER BY rr) AS return_rank,
             rank() OVER (ORDER BY cr) AS currency_rank
      FROM (
        SELECT l_partkey AS item,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
                 / CAST(sum(CASE WHEN l_returnflag <> 'R' THEN CAST(l_quantity AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS DOUBLE) AS rr,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN $epc ELSE CAST(0 AS BIGINT) END) AS DOUBLE)
                 / CAST(sum(CASE WHEN l_returnflag <> 'R' THEN $epc ELSE CAST(0 AS BIGINT) END) AS DOUBLE) AS cr
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE $pred
        GROUP BY l_partkey
        HAVING sum(CASE WHEN l_returnflag <> 'R' THEN CAST(l_quantity AS BIGINT) ELSE CAST(0 AS BIGINT) END) > 0
           AND sum(CASE WHEN l_returnflag <> 'R' THEN $epc ELSE CAST(0 AS BIGINT) END) > 0
           AND sum(CASE WHEN l_returnflag = 'R' THEN CAST(l_quantity AS BIGINT) ELSE CAST(0 AS BIGINT) END) > 0
      ) t49
    ) w49 WHERE return_rank <= 10 OR currency_rank <= 10"""

  val sqlText: Map[String, String] = Map(
    // q72's defining feature is the join of two fact-scale relations on
    // item × adjacent week with an inequality on quantities (inventory
    // shortfall), famously the longest-running TPC-DS query. Analog:
    // demanded quantity per (part, order-week) vs accepted shipments of
    // the FOLLOWING week; LEFT JOIN keeps demand rows with no supply at
    // all (promotion LEFT JOIN analog), shortfall filter, top-100 by
    // shortfall size.
    "ds72_inventory_shortfall" -> """
      WITH supply AS (
        SELECT l_partkey AS part, date_trunc('week', l_shipdate) AS wk,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS supplied
        FROM lineitem WHERE l_returnflag = 'A' GROUP BY 1, 2),
      demand AS (
        SELECT l_partkey AS part, date_trunc('week', o_orderdate) AS wk,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS demanded
        FROM lineitem, orders WHERE l_orderkey = o_orderkey GROUP BY 1, 2)
      SELECT d.part, CAST(d.wk AS DATE) AS wk, demanded,
             coalesce(supplied, CAST(0 AS BIGINT)) AS supplied,
             demanded - coalesce(supplied, CAST(0 AS BIGINT)) AS shortfall
      FROM demand d LEFT JOIN supply s
        ON d.part = s.part AND s.wk = d.wk + INTERVAL 7 DAY
      WHERE coalesce(supplied, CAST(0 AS BIGINT)) < demanded
      ORDER BY shortfall DESC, d.part, wk LIMIT 100""",

    // q23's funnel: frequent items (grouped HAVING), customer spend CTE
    // aggregated once and reused both for the scalar MAX threshold and
    // the best-customer filter, then a month of sales restricted to
    // best-customers × frequent-items via two IN-subqueries.
    "ds23_best_customer_items" -> """
      WITH freq AS (
        SELECT l_partkey AS item FROM lineitem
        GROUP BY l_partkey HAVING count(*) > 30),
      spend AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_c
        FROM orders GROUP BY o_custkey),
      best AS (
        SELECT cust FROM spend
        WHERE CAST(total_c AS DOUBLE) > (SELECT max(total_c) FROM spend) * 0.5)
      SELECT round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS revenue,
             count(*) AS n_lines
      FROM lineitem, orders
      WHERE l_orderkey = o_orderkey
        AND o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        AND l_partkey IN (SELECT item FROM freq)
        AND o_custkey IN (SELECT cust FROM best)""",

    // q67: ROLLUP over the full grouping ladder, then rank() within the
    // top-level group, keeping the head of each ranking. The rollup's
    // NULL-padded subtotal rows participate in the ranking exactly as
    // q67's do (the NULL brand partition holds the grand totals).
    "ds67_rollup_rank" -> s"""
      WITH base AS (
        SELECT p_brand, p_type, year(o_orderdate) AS yr, month(o_orderdate) AS mon,
               $epc * CAST(l_quantity AS BIGINT) AS amt_c
        FROM lineitem, orders, part
        WHERE l_orderkey = o_orderkey AND l_partkey = p_partkey),
      agg AS (
        SELECT p_brand, p_type, yr, mon, CAST(sum(amt_c) AS BIGINT) AS sales_c
        FROM base GROUP BY ROLLUP(p_brand, p_type, yr, mon)),
      ranked AS (
        SELECT p_brand, p_type, yr, mon, sales_c,
               rank() OVER (PARTITION BY p_brand ORDER BY sales_c DESC) AS rk
        FROM agg)
      SELECT p_brand, p_type, yr, mon,
             round(CAST(sales_c AS DOUBLE) / 10000.0, 2) AS sales, rk
      FROM ranked WHERE rk <= 10""",

    // q51: cumulative revenue per item on two channels (accepted vs
    // returned lines), FULL OUTER JOIN on (item, day), running-MAX gap
    // fill over the joined grid, emit the days where the returned
    // cumulative total overtakes the accepted one.
    "ds51_cumulative_overtake" -> s"""
      WITH daily AS (
        SELECT l_partkey AS item, l_returnflag AS flag, CAST(l_shipdate AS DATE) AS d,
               sum($epc) AS rev_c
        FROM lineitem WHERE l_returnflag IN ('A', 'R') AND l_partkey <= 200
        GROUP BY 1, 2, 3),
      cum AS (
        SELECT item, flag, d,
               CAST(sum(rev_c) OVER (PARTITION BY item, flag ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_c
        FROM daily),
      joined AS (
        SELECT coalesce(a.item, r.item) AS item, coalesce(a.d, r.d) AS d,
               a.cum_c AS a_cum, r.cum_c AS r_cum
        FROM (SELECT * FROM cum WHERE flag = 'A') a
        FULL OUTER JOIN (SELECT * FROM cum WHERE flag = 'R') r
          ON a.item = r.item AND a.d = r.d),
      filled AS (
        SELECT item, d,
               max(a_cum) OVER (PARTITION BY item ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS a_fill,
               max(r_cum) OVER (PARTITION BY item ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS r_fill
        FROM joined)
      SELECT item, d, CAST(a_fill AS BIGINT) AS accepted_cum_c,
             CAST(r_fill AS BIGINT) AS returned_cum_c
      FROM filled WHERE r_fill > a_fill""",

    // q88: eight time-band counts in ONE pass. The spec text writes q88
    // as eight separate fact⋈time_dim⋈household subqueries cross-joined
    // into a single row — executed literally that is EIGHT fact scans.
    // The scale-correct plan is one scan with FILTER'd partial counts
    // (Spark compiles each count into the same hash-agg buffer; at
    // 100 TB the band predicates never re-read the fact table). The
    // eight one-hour bands + the value predicate mirror q88's
    // half-hour × demographic bands; the single-row cross-join of the
    // spec collapses into the aggregate itself.
    "ds88_timeband_counts" -> """
      SELECT
        count(*) FILTER (WHERE hour(ts) =  8 AND value > 5.0)  AS h8,
        count(*) FILTER (WHERE hour(ts) =  9 AND value > 5.0)  AS h9,
        count(*) FILTER (WHERE hour(ts) = 10 AND value > 5.0)  AS h10,
        count(*) FILTER (WHERE hour(ts) = 11 AND value > 5.0)  AS h11,
        count(*) FILTER (WHERE hour(ts) = 12 AND value > 5.0)  AS h12,
        count(*) FILTER (WHERE hour(ts) = 13 AND value > 5.0)  AS h13,
        count(*) FILTER (WHERE hour(ts) = 14 AND value > 5.0)  AS h14,
        count(*) FILTER (WHERE hour(ts) = 15 AND value > 5.0)  AS h15
      FROM events
      WHERE event_type IN ('view', 'click', 'purchase')""",

    // q4 (0:22 published): the year-over-year growth comparison. One
    // year_total CTE aggregated per (customer, channel, year), then a
    // 4-way self-join picks each channel's first/second year and keeps
    // customers whose second-channel growth ratio beats the first's.
    // Channels here are kept ('N') vs returned ('R') lines. The growth
    // predicate is cross-multiplied in exact BIGINT cents (r2·n1 >
    // n2·r1, products ≤ ~1e16 at bench SF) so the FILTER is
    // drift-free; the emitted ratios divide once at the output edge.
    // Scale shape: year_total is |customers × 2 × 2|-sized — the
    // self-joins are over an aggregate, never the fact table, and all
    // four sides share one shuffle key (cust). PG materializes a
    // multi-referenced CTE (ShareInputScan / ORCA CTEProducer); Spark
    // INLINES it, which would re-derive year_total four times = 8 fact
    // scans. The queries-entry therefore spools year_total once (the
    // q65 ShareInputScan discipline) and runs the identical outer text
    // over the spool; the oracle runs the assembled one-statement form.
    "ds04_yoy_growth" -> s"WITH year_total AS ($Ds04YearTotal) $Ds04Outer",

    // q14 (0:25 published): cross_items = the INTERSECT of the item
    // sets sold on every channel, an uncorrelated average-sales scalar
    // threshold, then ROLLUP(channel, brand) over cross-item sales
    // HAVING sum > threshold. Channels are the three returnflag
    // classes. Scale shape: cross_items is a distinct-key set
    // (semi-joined into the fact scan, broadcastable), the threshold
    // is one scalar, the rollup Expands the post-filter aggregate.
    // The INTERSECT's three branches each re-scan lineitem, but pruned
    // to (l_partkey, l_returnflag) — the same 2-column scans PG plans
    // for this text; the set op itself shuffles only distinct keys.
    "ds14_cross_channel" -> """
      WITH cross_items AS (
        SELECT l_partkey AS item FROM lineitem WHERE l_returnflag = 'A'
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'N'
        INTERSECT
        SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
      avg_sales AS (
        SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
               / count(*) AS average_sales
        FROM lineitem),
      sales AS (
        SELECT l_returnflag AS channel, p_brand,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS BIGINT) AS sales_c,
               count(*) AS n_lines
        FROM lineitem, part
        WHERE l_partkey = p_partkey
          AND l_partkey IN (SELECT item FROM cross_items)
          AND year(l_shipdate) = 1997
        GROUP BY ROLLUP(l_returnflag, p_brand)
        HAVING CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * CAST(l_quantity AS BIGINT)) AS DOUBLE)
               > (SELECT average_sales FROM avg_sales))
      SELECT channel, p_brand, round(CAST(sales_c AS DOUBLE) / 100.0, 2) AS sales, n_lines
      FROM sales
      ORDER BY channel NULLS FIRST, p_brand NULLS FIRST, sales""",

    // q24 (0:15 published): returns matched back to purchases on a
    // compound key, grouped, HAVING sum(netpaid) above a scalar
    // average computed over the SAME grouped relation. The pair key
    // here is (customer, part) — a kept line pays out only if that
    // customer also returned that part somewhere (the returned side is
    // DISTINCT, so each kept line matches at most once — multiplicity
    // is bounded by construction, never |kept|×|returned|).
    "ds24_returned_netpaid" -> """
      WITH kept AS (
        SELECT o_custkey AS cust, l_partkey AS pkey,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS paid_c
        FROM lineitem, orders
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'N'),
      returned AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS pkey
        FROM lineitem, orders
        WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'),
      grouped AS (
        SELECT n_name, p_brand, CAST(sum(paid_c) AS BIGINT) AS netpaid_c, count(*) AS n_lines
        FROM kept k, returned r, customer, nation, part
        WHERE k.cust = r.cust AND k.pkey = r.pkey
          AND k.cust = c_custkey AND c_nationkey = n_nationkey AND k.pkey = p_partkey
        GROUP BY 1, 2)
      SELECT n_name, p_brand, round(CAST(netpaid_c AS DOUBLE) / 100.0, 2) AS netpaid, n_lines
      FROM grouped
      WHERE CAST(netpaid_c AS DOUBLE) > (SELECT CAST(sum(netpaid_c) AS DOUBLE) / count(*) FROM grouped)
      ORDER BY n_name, p_brand""",

    // q28 (0:21 published): six price-band aggregates, each with OR'd
    // alternative predicates and a count(DISTINCT) — the spec writes
    // them as six separate fact scans cross-joined into one row; the
    // scale-correct plan is ONE scan with FILTER'd aggregates (ds88's
    // collapse) where the five DISTINCT counts share a single Expand.
    // The band average divides exact sums once at the output edge
    // (never avg() over doubles — accumulation order drifts).
    "ds28_band_stats" -> """
      WITH li AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               l_discount, l_tax
        FROM lineitem)
      SELECT
        round(CAST(sum(price_c) FILTER (WHERE qty BETWEEN 1 AND 10  AND (price_c BETWEEN 100000 AND 400000 OR l_discount BETWEEN 0.00 AND 0.04 OR l_tax BETWEEN 0.00 AND 0.02)) AS DOUBLE)
              / count(*)  FILTER (WHERE qty BETWEEN 1 AND 10  AND (price_c BETWEEN 100000 AND 400000 OR l_discount BETWEEN 0.00 AND 0.04 OR l_tax BETWEEN 0.00 AND 0.02)) / 100.0, 2) AS b1_avg,
        count(*)          FILTER (WHERE qty BETWEEN 1 AND 10  AND (price_c BETWEEN 100000 AND 400000 OR l_discount BETWEEN 0.00 AND 0.04 OR l_tax BETWEEN 0.00 AND 0.02)) AS b1_n,
        count(DISTINCT price_c) FILTER (WHERE qty BETWEEN 1 AND 10  AND (price_c BETWEEN 100000 AND 400000 OR l_discount BETWEEN 0.00 AND 0.04 OR l_tax BETWEEN 0.00 AND 0.02)) AS b1_nd,
        count(*)          FILTER (WHERE qty BETWEEN 11 AND 20 AND (price_c BETWEEN 200000 AND 500000 OR l_discount BETWEEN 0.02 AND 0.06 OR l_tax BETWEEN 0.01 AND 0.03)) AS b2_n,
        count(DISTINCT price_c) FILTER (WHERE qty BETWEEN 11 AND 20 AND (price_c BETWEEN 200000 AND 500000 OR l_discount BETWEEN 0.02 AND 0.06 OR l_tax BETWEEN 0.01 AND 0.03)) AS b2_nd,
        count(*)          FILTER (WHERE qty BETWEEN 21 AND 30 AND (price_c BETWEEN 300000 AND 600000 OR l_discount BETWEEN 0.04 AND 0.08 OR l_tax BETWEEN 0.02 AND 0.04)) AS b3_n,
        count(DISTINCT price_c) FILTER (WHERE qty BETWEEN 21 AND 30 AND (price_c BETWEEN 300000 AND 600000 OR l_discount BETWEEN 0.04 AND 0.08 OR l_tax BETWEEN 0.02 AND 0.04)) AS b3_nd,
        count(*)          FILTER (WHERE qty BETWEEN 31 AND 40 AND (price_c BETWEEN 400000 AND 700000 OR l_discount BETWEEN 0.06 AND 0.10 OR l_tax BETWEEN 0.03 AND 0.05)) AS b4_n,
        count(DISTINCT price_c) FILTER (WHERE qty BETWEEN 31 AND 40 AND (price_c BETWEEN 400000 AND 700000 OR l_discount BETWEEN 0.06 AND 0.10 OR l_tax BETWEEN 0.03 AND 0.05)) AS b4_nd,
        count(*)          FILTER (WHERE qty BETWEEN 41 AND 50 AND (price_c BETWEEN 500000 AND 800000 OR l_discount BETWEEN 0.08 AND 0.10 OR l_tax BETWEEN 0.04 AND 0.06)) AS b5_n,
        count(DISTINCT price_c) FILTER (WHERE qty BETWEEN 41 AND 50 AND (price_c BETWEEN 500000 AND 800000 OR l_discount BETWEEN 0.08 AND 0.10 OR l_tax BETWEEN 0.04 AND 0.06)) AS b5_nd
      FROM li""",

    // q39 (0:27 published, performance.md:118): the inventory-variance
    // pair — one CTE of per-(warehouse,item,month) moments with a
    // coefficient-of-variation filter, self-joined on the ADJACENT
    // month so only keys volatile in BOTH periods survive. Analog:
    // per-(part, ship-month) quantity moments; see Ds39Cov for the
    // exact-integer cov filter. Scale shape: the moment aggregate is
    // one fact scan pruned to 2 columns; the self-join runs over the
    // |parts × 12|-sized spool, never the fact table.
    "ds39_inventory_cov" -> s"WITH cov39 AS ($Ds39Cov) $Ds39Outer",

    // q78 (0:27 published, performance.md:157): the three-channel
    // LEFT-JOIN-no-return rollup — each channel's sales are LEFT
    // JOINed to returns on the sale's key and only return-less rows
    // aggregate (LEFT JOIN + IS NULL = the NAAJ shape, q8's family),
    // then the channels join on (year, customer, item) and emit the
    // cross-channel quantity ratio. Channels here are the kept ('N')
    // vs accepted ('A') line classes; the return key is the ds24
    // (customer, part) compound with the returned side DISTINCT.
    // Scale shape: both channel aggregates shuffle on the same
    // (yr, cust, part) key — the final join re-uses the exchange; the
    // DISTINCT return set is |returned pairs|-sized, never |fact|².
    // r15: MERGE(rets) pins the return-set anti-condition join to
    // shuffle — rets is lineitem-derived (fact-scale at 100 TB; AQE
    // broadcast it at bench SF, measured ~15% slower even locally).
    "ds78_channel_ratio" -> """
      WITH rets AS (
        SELECT DISTINCT o_custkey AS rcust, l_partkey AS rpk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'),
      ss AS (
        SELECT /*+ MERGE(rets) */ year(o_orderdate) AS yr, o_custkey AS cust, l_partkey AS part,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS s_amt_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN rets ON o_custkey = rcust AND l_partkey = rpk
        WHERE l_returnflag = 'N' AND rcust IS NULL
        GROUP BY 1, 2, 3),
      ws AS (
        SELECT /*+ MERGE(rets) */ year(o_orderdate) AS yr, o_custkey AS cust, l_partkey AS part,
               CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w_qty,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w_amt_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        LEFT JOIN rets ON o_custkey = rcust AND l_partkey = rpk
        WHERE l_returnflag = 'A' AND rcust IS NULL
        GROUP BY 1, 2, 3)
      SELECT ss.yr, ss.cust, ss.part, s_qty, w_qty,
             round(CAST(s_qty AS DOUBLE) / w_qty, 4) AS qty_ratio,
             round(CAST(s_amt_c AS DOUBLE) / 100.0, 2) AS s_amt,
             round(CAST(w_amt_c AS DOUBLE) / 100.0, 2) AS w_amt
      FROM ss JOIN ws ON ss.yr = ws.yr AND ss.cust = ws.cust AND ss.part = ws.part
      ORDER BY qty_ratio DESC, ss.yr, ss.cust, ss.part LIMIT 100""",

    // q95 (0:15 published, performance.md:174): the chained-EXISTS
    // query — line-level rows kept only when their order ALSO appears
    // in a self-joined multi-warehouse pair set AND in the returns
    // set; count(DISTINCT order) + sums over the survivors. Analog:
    // orders shipped by more than one supplier (lineitem self-join on
    // order with supplier inequality) that also had a returned line.
    // Scale shape: both IN-subqueries plan as LEFT SEMI joins on the
    // order key (never pair emission into the outer); the self-join
    // pair set is bounded by per-order line count (~4), not |fact|².
    //    r15: every join side here is fact-scale, and AQE was
    //    broadcasting the 600 k-row self-join side (twice — the
    //    inferred-constraint duplication) plus the orders build at
    //    bench SF; the pg_hint_plan MERGE hints (the ds16 fix, see
    //    PROF_r15) pin the shuffle sort-merge plan a cluster needs —
    //    idle 1.2–1.5 → 0.6–0.9 s, zero BroadcastExchange
    //    plan-asserted. DuckDB reads the hints as comments.
    "ds95_chained_exists" -> """
      WITH multi_supp AS (
        SELECT /*+ MERGE(l1) */ DISTINCT l1.l_orderkey AS ok
        FROM lineitem l1, lineitem l2
        WHERE l1.l_orderkey = l2.l_orderkey AND l1.l_suppkey <> l2.l_suppkey)
      SELECT /*+ MERGE(orders) */ count(DISTINCT l_orderkey) AS order_count,
             round(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_price,
             round(CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_disc
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-05-01'
        AND l_orderkey IN (SELECT /*+ MERGE(multi_supp) */ ok FROM multi_supp)
        AND l_orderkey IN (SELECT /*+ MERGE(lineitem) */ l_orderkey FROM lineitem WHERE l_returnflag = 'R')""",

    // q38 (0:08 published, performance.md:118): q87's complement —
    // count the composite (customer, day) keys present in ALL THREE
    // channels via a 3-way INTERSECT of distinct key sets (ds14 pins
    // INTERSECT feeding a join; this pins the standalone
    // count-of-intersection the spec runs). Same 2-column-pruned
    // branch scans; the set op shuffles only distinct keys.
    "ds38_intersect_count" -> """
      SELECT count(*) AS n_all_channels FROM (
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'N' AND year(o_orderdate) = 1997
        INTERSECT
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'A' AND year(o_orderdate) = 1997
        INTERSECT
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997) t""",

    // q87 (0:08 published, performance.md:166): the EXCEPT chain —
    // count the composite (customer, day) keys that appear in ONE
    // channel's sales and in NEITHER of the other two. Each branch
    // distincts its channel's key set (2-column pruned scans); the two
    // EXCEPTs shuffle only distinct keys (ds14's INTERSECT sibling —
    // this pins the other set-op at fact scale).
    "ds87_except_chain" -> """
      SELECT count(*) AS n_store_only FROM (
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'N' AND year(o_orderdate) = 1997
        EXCEPT
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'A' AND year(o_orderdate) = 1997
        EXCEPT
        SELECT DISTINCT o_custkey, CAST(o_orderdate AS DATE) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R' AND year(o_orderdate) = 1997) t""",

    // q73 (0:16 published, performance.md:151): the visit-frequency
    // band — per-customer order counts under date + priority
    // predicates, HAVING the count inside a band, then joined back to
    // the customer dimension for display. Scale shape: the band filter
    // runs ON the aggregate (|customers|-sized) before the dim joins;
    // the dims broadcast into the survivors.
    "ds73_visit_band" -> """
      SELECT c_custkey, c_name, n_name, cnt
      FROM (
        SELECT o_custkey, count(*) AS cnt
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
          AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        GROUP BY o_custkey
        HAVING count(*) BETWEEN 3 AND 7) t
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      ORDER BY cnt DESC, c_custkey""",

    // q64 (0:13 published, performance.md:143): the wide multi-join
    // monster — one CTE joining the fact to ~everything (here all six
    // dimension-side relations plus a returned-order semi-join),
    // grouped per (item, brand, year), then self-joined across two
    // consecutive years keeping pairs where the second year's count
    // does not exceed the first's. Scale shape: all dims broadcast,
    // the fact shuffles ONCE on the group key; the year-pair self-join
    // runs over the aggregate spool (see queries() — GP materializes
    // the 2×-referenced CTE; Spark would inline → two 8-relation
    // joins).
    "ds64_wide_twoyear" -> s"WITH cross_sales64 AS ($Ds64CrossSales) $Ds64Outer",

    // q75 (0:12 published, performance.md:154): net sales = sold MINUS
    // returned per (brand, year) — the spec UNION-ALLs positive sales
    // rows with negated return rows before aggregating (sales and
    // returns live in separate tables there), then self-joins the two
    // years and keeps brands whose net quantity declined. The signed
    // UNION ALL is kept (one branch per sign, both pruned to 4 columns
    // + pushed flag filters); the decline threshold is the
    // cross-multiplied integer form (cur·100 < prev·98 ⇔ >2% drop).
    // Scale shape: the union is scan-parallel, one shuffle on the
    // group key; the year-pair join runs over the |brands × 2| spool.
    "ds75_net_decline" -> """
      WITH all_sales AS (
        SELECT p_brand AS brand, year(l_shipdate) AS yr,
               CAST(sum(sign * CAST(l_quantity AS BIGINT)) AS BIGINT) AS net_qty,
               CAST(sum(sign * CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS net_amt_c
        FROM (
          SELECT l_partkey, l_shipdate, l_quantity, l_extendedprice, CAST(1 AS BIGINT) AS sign
          FROM lineitem WHERE l_returnflag <> 'R'
          UNION ALL
          SELECT l_partkey, l_shipdate, l_quantity, l_extendedprice, CAST(-1 AS BIGINT) AS sign
          FROM lineitem WHERE l_returnflag = 'R') s
        JOIN part ON l_partkey = p_partkey
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY 1, 2)
      SELECT prev.brand, prev.net_qty AS qty_1996, cur.net_qty AS qty_1997,
             round(CAST(cur.net_qty AS DOUBLE) / prev.net_qty, 4) AS qty_ratio,
             round(CAST(prev.net_amt_c AS DOUBLE) / 100.0, 2) AS amt_1996,
             round(CAST(cur.net_amt_c AS DOUBLE) / 100.0, 2) AS amt_1997
      FROM all_sales prev JOIN all_sales cur ON prev.brand = cur.brand
      WHERE prev.yr = 1996 AND cur.yr = 1997
        AND prev.net_qty > 0 AND cur.net_qty * 100 < prev.net_qty * 98
      ORDER BY qty_ratio, prev.brand""",

    // q54 (published performance.md:133): the customer-revenue
    // segmentation funnel — items sold on one channel in a month build
    // a customer set (two chained IN-subqueries → semi-joins), those
    // customers' next-quarter revenue on the other channel aggregates
    // per customer, and the histogram buckets revenue into $50
    // segments. Scale shape: month_items and my_customers are
    // distinct-key sets (broadcastable) semi-joined into fact scans
    // with pushed date filters; the segment histogram groups the
    // |customers|-sized aggregate.
    "ds54_revenue_segments" -> """
      WITH month_items AS (
        SELECT DISTINCT l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'A'
          AND o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-04-01'),
      my_customers AS (
        SELECT DISTINCT o_custkey AS cust
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_partkey IN (SELECT item FROM month_items)
          AND o_orderdate >= TIMESTAMP '1997-03-01' AND o_orderdate < TIMESTAMP '1997-04-01'),
      my_revenue AS (
        SELECT o_custkey AS cust,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_custkey IN (SELECT cust FROM my_customers)
          AND l_returnflag = 'N'
          AND o_orderdate >= TIMESTAMP '1997-04-01' AND o_orderdate < TIMESTAMP '1997-07-01'
        GROUP BY 1)
      SELECT CAST(floor(rev_c / 500000.0) AS BIGINT) AS segment, count(*) AS num_customers,
             CAST(floor(rev_c / 500000.0) AS BIGINT) * 5000 AS segment_base
      FROM my_revenue GROUP BY 1 ORDER BY 1""",

    // q77 (0:11 published, performance.md:156): per-channel
    // (sales, returns, profit) totals with a grand-total ROLLUP row.
    // The spec UNION-ALLs one aggregate block per channel because its
    // channels are separate fact tables; here the channels classify
    // ONE fact relation, so the scale-correct plan collapses the
    // blocks into a single scan (the ds88/ds28 discipline): channel is
    // a CASE over order priority, sales/returns are FILTER'd sums,
    // profit is a signed net sum, and ROLLUP(channel) adds the total
    // row the spec's final cross-channel aggregate produces.
    "ds77_channel_totals" -> """
      WITH ch AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'urgent'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                    ELSE 'low' END AS channel,
               l_returnflag, l_extendedprice, l_discount
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
      SELECT channel,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_returnflag <> 'R') AS BIGINT) AS sales_c,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE l_returnflag = 'R') AS BIGINT) AS returns_c,
             CAST(sum(CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END
                      * CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS profit_c
      FROM ch GROUP BY ROLLUP(channel)
      ORDER BY channel NULLS FIRST""",

    // the oracle spelling of ds59 (see ds59Text); queries() runs the
    // identical text with Spark's weekday() as the one divergent token
    "ds59_weekly_pivot" -> ds59Text("isodow(o_orderdate) - 1"),

    // q9 (0:10 published, performance.md:88): the banded-probe scalar
    // sheet — five quantity bands, each choosing between two averages
    // by a count threshold, selected FROM a one-row dimension scan
    // (the spec's `reason WHERE r_reason_sk = 1`; region row 0 here).
    // Executed literally that is 15 scalar subqueries = 15 fact scans;
    // the scale-correct plan is ONE FILTER'd-aggregate scan (the
    // ds28/ds88 collapse) producing all 15 quantities in one pass, the
    // CASE sheet then a one-row projection cross-joined to the one-row
    // dim. Averages divide exact BIGINT sums once at the output edge.
    "ds09_banded_probes" -> """
      WITH li AS (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(round(l_extendedprice * l_discount * 100) AS BIGINT) AS disc_c
        FROM lineitem),
      probes AS (
        SELECT
          count(*) FILTER (WHERE qty BETWEEN 1 AND 10)  AS n1,
          CAST(sum(price_c) FILTER (WHERE qty BETWEEN 1 AND 10)  AS BIGINT) AS sp1,
          CAST(sum(disc_c)  FILTER (WHERE qty BETWEEN 1 AND 10)  AS BIGINT) AS sd1,
          count(*) FILTER (WHERE qty BETWEEN 11 AND 20) AS n2,
          CAST(sum(price_c) FILTER (WHERE qty BETWEEN 11 AND 20) AS BIGINT) AS sp2,
          CAST(sum(disc_c)  FILTER (WHERE qty BETWEEN 11 AND 20) AS BIGINT) AS sd2,
          count(*) FILTER (WHERE qty BETWEEN 21 AND 30) AS n3,
          CAST(sum(price_c) FILTER (WHERE qty BETWEEN 21 AND 30) AS BIGINT) AS sp3,
          CAST(sum(disc_c)  FILTER (WHERE qty BETWEEN 21 AND 30) AS BIGINT) AS sd3,
          count(*) FILTER (WHERE qty BETWEEN 31 AND 40) AS n4,
          CAST(sum(price_c) FILTER (WHERE qty BETWEEN 31 AND 40) AS BIGINT) AS sp4,
          CAST(sum(disc_c)  FILTER (WHERE qty BETWEEN 31 AND 40) AS BIGINT) AS sd4,
          count(*) FILTER (WHERE qty BETWEEN 41 AND 50) AS n5,
          CAST(sum(price_c) FILTER (WHERE qty BETWEEN 41 AND 50) AS BIGINT) AS sp5,
          CAST(sum(disc_c)  FILTER (WHERE qty BETWEEN 41 AND 50) AS BIGINT) AS sd5
        FROM li)
      SELECT r_name,
        CASE WHEN n1 > 10000  THEN round(CAST(sp1 AS DOUBLE) / n1 / 100.0, 2)
             ELSE round(CAST(sd1 AS DOUBLE) / n1 / 100.0, 2) END AS bucket1,
        CASE WHEN n2 > 100000 THEN round(CAST(sp2 AS DOUBLE) / n2 / 100.0, 2)
             ELSE round(CAST(sd2 AS DOUBLE) / n2 / 100.0, 2) END AS bucket2,
        CASE WHEN n3 > 10000  THEN round(CAST(sp3 AS DOUBLE) / n3 / 100.0, 2)
             ELSE round(CAST(sd3 AS DOUBLE) / n3 / 100.0, 2) END AS bucket3,
        CASE WHEN n4 > 100000 THEN round(CAST(sp4 AS DOUBLE) / n4 / 100.0, 2)
             ELSE round(CAST(sd4 AS DOUBLE) / n4 / 100.0, 2) END AS bucket4,
        CASE WHEN n5 > 10000  THEN round(CAST(sp5 AS DOUBLE) / n5 / 100.0, 2)
             ELSE round(CAST(sd5 AS DOUBLE) / n5 / 100.0, 2) END AS bucket5
      FROM region, probes WHERE r_regionkey = 0""",

    // q11 (0:14 published, performance.md:90): q4's 2-channel sibling
    // with the customer DIMENSION columns riding the aggregate key and
    // the CASE-guarded ratio comparison (the spec's other published
    // spelling of year-over-year growth — ds04 pins the 3-CTE
    // cross-multiplied form). Spark side spools the 4×-referenced CTE
    // (the ds04 ShareInputScan discipline).
    "ds11_yoy_customer_dims" -> s"WITH year_total11 AS ($Ds11YearTotal) $Ds11Outer",

    // q66 (0:09 published, performance.md:145): the two-carrier monthly
    // pivot-rollup — per warehouse, twelve monthly sales columns per
    // carrier, then an outer re-aggregation summing the month columns
    // across carriers. The spec UNION-ALLs one pivot block per channel
    // because web_sales/catalog_sales are separate tables; here the
    // carriers (line status O/F) classify ONE relation, so the blocks
    // collapse to a single scan grouped by (warehouse, carrier) — the
    // ds77 discipline — and the outer rollup runs over the
    // |nations × 2| aggregate. Warehouse = supplier nation.
    "ds66_carrier_monthly" -> """
      WITH monthly AS (
        SELECT n_name AS wh, l_linestatus AS carrier,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 1)  AS BIGINT) AS jan_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 2)  AS BIGINT) AS feb_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 3)  AS BIGINT) AS mar_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 4)  AS BIGINT) AS apr_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 5)  AS BIGINT) AS may_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 6)  AS BIGINT) AS jun_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 7)  AS BIGINT) AS jul_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 8)  AS BIGINT) AS aug_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 9)  AS BIGINT) AS sep_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 10) AS BIGINT) AS oct_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 11) AS BIGINT) AS nov_c,
          CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) FILTER (WHERE month(l_shipdate) = 12) AS BIGINT) AS dec_c
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE l_linestatus IN ('O', 'F') AND year(l_shipdate) = 1997
        GROUP BY 1, 2)
      SELECT wh, count(*) AS n_carriers,
        CAST(sum(coalesce(jan_c, 0)) AS BIGINT) AS jan_c,
        CAST(sum(coalesce(feb_c, 0)) AS BIGINT) AS feb_c,
        CAST(sum(coalesce(mar_c, 0)) AS BIGINT) AS mar_c,
        CAST(sum(coalesce(apr_c, 0)) AS BIGINT) AS apr_c,
        CAST(sum(coalesce(may_c, 0)) AS BIGINT) AS may_c,
        CAST(sum(coalesce(jun_c, 0)) AS BIGINT) AS jun_c,
        CAST(sum(coalesce(jul_c, 0)) AS BIGINT) AS jul_c,
        CAST(sum(coalesce(aug_c, 0)) AS BIGINT) AS aug_c,
        CAST(sum(coalesce(sep_c, 0)) AS BIGINT) AS sep_c,
        CAST(sum(coalesce(oct_c, 0)) AS BIGINT) AS oct_c,
        CAST(sum(coalesce(nov_c, 0)) AS BIGINT) AS nov_c,
        CAST(sum(coalesce(dec_c, 0)) AS BIGINT) AS dec_c,
        round(CAST(sum(coalesce(jan_c, 0)) + sum(coalesce(feb_c, 0)) + sum(coalesce(mar_c, 0))
                 + sum(coalesce(apr_c, 0)) + sum(coalesce(may_c, 0)) + sum(coalesce(jun_c, 0))
                 + sum(coalesce(jul_c, 0)) + sum(coalesce(aug_c, 0)) + sum(coalesce(sep_c, 0))
                 + sum(coalesce(oct_c, 0)) + sum(coalesce(nov_c, 0)) + sum(coalesce(dec_c, 0))
               AS DOUBLE) / 100.0, 2) AS total
      FROM monthly GROUP BY wh ORDER BY wh""",

    // q74 (0:13 published, performance.md:153): the union-tagged
    // year_total — see Ds74YearTotal; the 4-way self-join compares the
    // two channels' CASE-guarded growth ratios. Spark side spools the
    // 4×-referenced union CTE once.
    "ds74_union_yoy" -> s"WITH year_total74 AS ($Ds74YearTotal) $Ds74Outer",

    // q13 (0:08 published, performance.md:92): the multi-dimensional
    // OR'd band report — q13's signature is that each OR alternative is
    // a CONJUNCTION spanning the fact AND two different dimensions
    // (demographics × sales band, address × profit band), so no single
    // branch pushes to one table; the dims broadcast and the whole
    // disjunction evaluates in the scan's codegen span. One-row output
    // of averages — exact BIGINT sums divided once at the edge (never
    // avg() over doubles). Demographics analog = (order priority,
    // market segment); address analog = (region, discount band).
    "ds13_band_join_report" -> """
      SELECT count(*) AS n,
        round(CAST(sum(qty) AS DOUBLE) / count(*), 2) AS avg_qty,
        round(CAST(sum(price_c) AS DOUBLE) / count(*) / 100.0, 2) AS avg_price,
        round(CAST(sum(price_c) AS DOUBLE) / 100.0, 2) AS total_price
      FROM (
        SELECT CAST(l_quantity AS BIGINT) AS qty,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               l_discount, o_orderpriority, c_mktsegment, n_regionkey
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey) t
      WHERE ((o_orderpriority = '1-URGENT' AND c_mktsegment = 'BUILDING'   AND qty BETWEEN 1 AND 20)
          OR (o_orderpriority = '3-MEDIUM' AND c_mktsegment = 'AUTOMOBILE' AND qty BETWEEN 10 AND 35)
          OR (o_orderpriority = '5-LOW'    AND c_mktsegment = 'MACHINERY'  AND qty BETWEEN 25 AND 50))
        AND ((n_regionkey IN (0, 1) AND l_discount BETWEEN 0.00 AND 0.05)
          OR (n_regionkey IN (2, 3) AND l_discount BETWEEN 0.03 AND 0.08)
          OR (n_regionkey = 4       AND l_discount BETWEEN 0.06 AND 0.10))""",

    // q47 (0:08 published, performance.md:126): the windowed-deviation
    // shape — monthly sales per brand carry THREE window columns in one
    // relation (the year average over (brand, yr), lag and lead over
    // (brand) ordered by month), the deviation filter keeps months >10%
    // off their year's average, and the year restriction applies AFTER
    // the windows so lag/lead reach into the adjacent year (q47's
    // v1/v1_lag/v1_lead construction). The deviation test is
    // cross-multiplied integer arithmetic (10·|s·n − T| > T ⇔
    // |s − T/n|/(T/n) > 0.1) — no floating accumulation; emitted
    // averages divide once at the edge. Scale shape: windows run over
    // the |brands × 24| aggregate, never the fact.
    "ds47_monthly_deviation" -> """
      WITH monthly AS (
        SELECT p_brand AS brand, year(l_shipdate) AS yr, month(l_shipdate) AS mon,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sales_c
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE year(l_shipdate) IN (1996, 1997)
        GROUP BY 1, 2, 3),
      v1 AS (
        SELECT brand, yr, mon, sales_c,
               CAST(sum(sales_c) OVER (PARTITION BY brand, yr) AS BIGINT) AS yr_total_c,
               count(*) OVER (PARTITION BY brand, yr) AS n_months,
               lag(sales_c) OVER (PARTITION BY brand ORDER BY yr, mon) AS prev_c,
               lead(sales_c) OVER (PARTITION BY brand ORDER BY yr, mon) AS next_c
        FROM monthly)
      SELECT brand, yr, mon,
             round(CAST(sales_c AS DOUBLE) / 100.0, 2) AS sales,
             round(CAST(yr_total_c AS DOUBLE) / n_months / 100.0, 2) AS avg_monthly,
             round(CAST(prev_c AS DOUBLE) / 100.0, 2) AS prev_sales,
             round(CAST(next_c AS DOUBLE) / 100.0, 2) AS next_sales
      FROM v1
      WHERE yr = 1997 AND 10 * abs(sales_c * n_months - yr_total_c) > yr_total_c
      ORDER BY brand, mon""",

    // q80 (0:08 published, performance.md:159): the three-channel
    // sales/returns/profit report rolled up over (channel, item) —
    // each channel's sales LEFT JOIN returns on the sale's compound
    // key (the ds78 (customer, part) analog), promo/price exclusions
    // pushed into the scan (p_retailprice, order status), then
    // ROLLUP(channel, brand) with the returned amount and net-loss
    // subtraction per q80's arithmetic. The spec's three per-channel
    // blocks collapse to ONE scan (the ds77 discipline — channels
    // classify one relation here); the ROLLUP runs under EagerAggRule
    // like ds67, so the Expand sees the (channel, brand) pre-aggregate,
    // never the fact rows.
    "ds80_channel_report" -> """
      WITH rets AS (
        SELECT DISTINCT o_custkey AS rcust, l_partkey AS rpk
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'R'),
      base AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'urgent'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                    ELSE 'low' END AS channel,
               p_brand,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS net_c,
               CASE WHEN rcust IS NOT NULL THEN 1 ELSE 0 END AS was_returned
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        LEFT JOIN rets ON o_custkey = rcust AND l_partkey = rpk
        WHERE l_returnflag <> 'R' AND p_retailprice > 905 AND o_orderstatus <> 'F')
      SELECT channel, p_brand,
        CAST(sum(price_c) AS BIGINT) AS sales_c,
        CAST(sum(CASE WHEN was_returned = 1 THEN price_c ELSE 0 END) AS BIGINT) AS returns_c,
        CAST(sum(net_c - CASE WHEN was_returned = 1 THEN price_c ELSE 0 END) AS BIGINT) AS profit_c
      FROM base GROUP BY ROLLUP(channel, p_brand)
      ORDER BY channel NULLS FIRST, p_brand NULLS FIRST""",

    // q65 (0:07 published, performance.md:144): the underperforming-
    // items shape — q65's defining structure is ONE per-(store, item)
    // revenue aggregate referenced at TWO derivation levels: directly
    // (the candidate rows) and re-aggregated per store (the avg-item-
    // revenue threshold), with items kept when their revenue falls
    // below a fraction of their store's average. Spark side spools the
    // twice-referenced aggregate (ds39's discipline; q65 is literally
    // the query the reference's ShareInputScan motivates); the
    // threshold test is cross-multiplied integers (2·rev·n < total ⇔
    // rev < avg/2). Store analog = supplier nation.
    "ds65_underperforming" -> s"WITH item_rev AS ($Ds65ItemRev) $Ds65Outer",

    // q70 (0:07 published, performance.md:149): the ROLLUP × window ×
    // GROUPING() interplay — profit rolled up over (region, nation),
    // lochierarchy = grouping(r)+grouping(n), rank() PARTITIONED BY
    // (lochierarchy, CASE WHEN grouping(n)=0 THEN r END) so subtotal
    // rows rank among subtotals and detail rows within their region,
    // and the region universe pre-filtered by a RANKED SUBQUERY (top
    // regions by their own windowed rank — q70's s_state IN (...rnk ≤
    // 5) funnel). The rollup runs under EagerAggRule (third user); the
    // ranked subquery's fact re-derivation is 2-column pruned and the
    // final windows run over the ~30-row rollup.
    "ds70_grouping_rank" -> """
      WITH top_regions AS (
        SELECT r_name FROM (
          SELECT r_name,
                 rank() OVER (ORDER BY CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) DESC) AS rnk
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          JOIN customer ON o_custkey = c_custkey
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name) t
        WHERE rnk <= 3),
      agg AS (
        SELECT r_name, n_name,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS profit_c,
               grouping(r_name) + grouping(n_name) AS lochierarchy,
               grouping(n_name) AS g_n
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE r_name IN (SELECT r_name FROM top_regions)
        GROUP BY ROLLUP(r_name, n_name))
      SELECT lochierarchy, r_name, n_name,
             round(CAST(profit_c AS DOUBLE) / 100.0, 2) AS profit,
             rank() OVER (PARTITION BY lochierarchy,
                            CASE WHEN g_n = 0 THEN r_name END
                          ORDER BY profit_c DESC) AS rank_within
      FROM agg
      ORDER BY lochierarchy DESC, r_name NULLS FIRST, rank_within, n_name NULLS FIRST""",

    // q16 (0:06 published, performance.md:95; q94 is the same shape on
    // the web channel): the order-shipping audit — count orders that
    // have lines from MORE THAN ONE supplier (correlated EXISTS → a
    // LEFT SEMI join) and NO returned line (correlated NOT EXISTS → a
    // LEFT ANTI join), under date + priority pushdown. This pins the
    // EXISTS/NOT-EXISTS pair as explicit correlated subqueries (ds95
    // pins the same family spelled as chained INs); the multi-supplier
    // probe set is the per-order self-join, bounded by per-order line
    // count, and both probes semi/anti-join the orders stream — pair
    // emission never reaches the outer. The /*+ MERGE */ hints are
    // pg_hint_plan syntax (the reference's own hint mechanism, the
    // ph01 front-end's dialect): every join side here is FACT-scale,
    // and without the hints AQE broadcasts the 600 k-row self-join
    // side at bench SF — a plan that cannot exist at 100 TB and that
    // MEASURES 3× slower even locally (PROF_r15: 1.68 → 0.52 s idle;
    // the single-threaded fact-table broadcast build dominates). The
    // hints pin the shuffle sort-merge plan on the order key — the
    // one a cluster needs — and DuckDB reads them as comments, so the
    // oracle text stays byte-identical.
    "ds16_shipping_audit" -> """
      SELECT /*+ MERGE(o) */ count(DISTINCT o_orderkey) AS order_count,
             round(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0, 2) AS total_price
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1997-02-01' AND o_orderdate < TIMESTAMP '1997-04-01'
        AND o_orderpriority IN ('1-URGENT', '2-HIGH')
        AND EXISTS (SELECT /*+ MERGE(l1) */ 1 FROM lineitem l1 JOIN lineitem l2
                      ON l1.l_orderkey = l2.l_orderkey
                    WHERE l1.l_orderkey = o.o_orderkey
                      AND l1.l_suppkey <> l2.l_suppkey)
        AND NOT EXISTS (SELECT /*+ MERGE(lr) */ 1 FROM lineitem lr
                        WHERE lr.l_orderkey = o.o_orderkey
                          AND lr.l_returnflag = 'R')""",

    // q18 (0:06 published, performance.md:97): the averages report
    // rolled up over a THREE-deep dimension ladder (country, state,
    // county → region, nation, segment here) — every output measure is
    // an average, emitted in EXACT INTEGER micro-units via half-up
    // integer division ((2·sum·u + n) div (2·n), positive measures
    // only, so truncating and flooring division agree): a double
    // division rounded to k decimals can TIE at the k-th digit and the
    // engines break ties differently (measured: 3472.4272 vs
    // 3472.4273 on the first cut of this query). The integer-division
    // operator is the ONE divergent token (Spark `div`, DuckDB `//` —
    // the ds59 weekday() precedent). Runs under EagerAggRule (fourth
    // user): the ×4 Expand multiplies the ~130-row pre-aggregate,
    // never the 5-relation join output.
    "ds18_avg_rollup_dims" -> ds18Text("//"),

    // q31 (0:06 published, performance.md:110): the quarter-over-
    // quarter growth CHAIN — see Ds31QTotal/Ds31Outer; the one CTE is
    // referenced SIX ways (3 consecutive quarters × 2 channels), the
    // widest spool fan-out in the battery, and a geography survives
    // only if the second channel outgrew the first in BOTH
    // transitions (cross-multiplied exact-integer comparisons).
    "ds31_qoq_chain" -> s"WITH qt31 AS ($Ds31QTotal) $Ds31Outer",

    // q35 (0:04 published, performance.md:114; q10 at 0:03 shares the
    // construction): the DISJUNCTIVE-EXISTS report — a conjunctive IN
    // (→ plain semi-join) plus `EXISTS(...) OR EXISTS(...)`, which no
    // semi-join can express alone: each EXISTS becomes an
    // ExistenceJoin (a semi-join variant emitting a boolean column
    // instead of filtering — the reference plans the same via
    // hashed-SubPlan testexpr) and the OR filters on the two booleans.
    // This is the one join FORM the battery had not pinned; the
    // grouped report is |nation × segment|-sized, counts + exact
    // cents sums at the edge.
    "ds35_disjunctive_exists" -> """
      SELECT n_name, c_mktsegment, count(*) AS n_customers,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_c
      FROM customer JOIN nation ON c_nationkey = n_nationkey
      WHERE c_custkey IN (SELECT o_custkey FROM orders
                          WHERE year(o_orderdate) = 1997)
        AND (EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c_custkey
                       AND o.o_orderpriority = '1-URGENT')
          OR EXISTS (SELECT 1 FROM lineitem l JOIN orders o2
                       ON l.l_orderkey = o2.o_orderkey
                     WHERE o2.o_custkey = c_custkey
                       AND l.l_returnflag = 'R'))
      GROUP BY 1, 2 ORDER BY 1, 2""",

    // q49 (0:07 published, performance.md:128): the worst-return-ratios
    // report — the battery's first WINDOW-then-UNION-then-dedup shape.
    // Three channel blocks (priority bands, the ds80 convention), each
    // ranking its items by return-quantity ratio AND return-currency
    // ratio, each keeping rank ≤ 10 on either axis, UNION (distinct —
    // the spec's dedup) across channels, globally ordered. The ranks
    // are windows with no partition — per channel they run over the
    // ~|parts-with-returns| aggregate, never the fact.
    "ds49_worst_return_ratios" ->
      (s"""
      SELECT channel, item, return_ratio, currency_ratio, return_rank, currency_rank
      FROM (${ds49Block("urgent", "o_orderpriority IN ('1-URGENT', '2-HIGH')")}
      UNION
      ${ds49Block("medium", "o_orderpriority = '3-MEDIUM'")}
      UNION
      ${ds49Block("low", "o_orderpriority IN ('4-NOT SPECIFIED', '5-LOW')")}
      ) ranked49
      ORDER BY channel, return_rank, currency_rank, item LIMIT 100"""),

    // q5 (0:07 published, performance.md:84): the channel
    // sales-and-returns report — per channel a UNION ALL of SALES
    // projections (returns_c = 0) and RETURNS projections (sales_c =
    // 0, profit NEGATED), aggregated per nation, ROLLUP(channel,
    // nation) over the union. The defining element vs ds80 (which
    // derives returns by a LEFT JOIN flag) is the aligned-projection
    // UNION ALL of two heterogeneous fact slices feeding ONE rollup.
    // The spec's three channel blocks collapse to a CASE channel
    // column (the ds09/ds66 one-scan discipline — the six per-channel
    // source scans become the two flag-disjoint slices); EagerAggRule
    // (fifth user) pre-aggregates the union below the rollup Expand.
    "ds05_channel_sales_returns" -> s"""
      WITH sr AS (
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'urgent'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                    ELSE 'low' END AS channel,
               n_name AS nat, $epc AS sales_c, CAST(0 AS BIGINT) AS returns_c,
               CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS profit_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE l_returnflag <> 'R'
        UNION ALL
        SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 'urgent'
                    WHEN o_orderpriority = '3-MEDIUM' THEN 'medium'
                    ELSE 'low' END AS channel,
               n_name AS nat, CAST(0 AS BIGINT) AS sales_c, $epc AS returns_c,
               -CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS profit_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE l_returnflag = 'R')
      SELECT channel, nat,
             CAST(sum(sales_c) AS BIGINT) AS sales_c,
             CAST(sum(returns_c) AS BIGINT) AS returns_c,
             CAST(sum(profit_c) AS BIGINT) AS profit_c
      FROM sr GROUP BY ROLLUP(channel, nat)
      ORDER BY channel NULLS FIRST, nat NULLS FIRST""",

    // q8 (0:07 published, performance.md:87): the preferred-zip funnel
    // — a literal VALUES list INTERSECTed with an aggregate-HAVING-
    // derived set (two-character brand codes of premium parts — the
    // zip-prefix analog: substr(p_brand, 7, 2) ∈ '1'..'25'), the
    // intersection semi-joined into the star. Scale shape: both
    // INTERSECT branches are tiny distinct sets (≤ 25 codes), the IN
    // plans as a broadcast semi-join under the pushed-down year filter.
    "ds08_preferred_codes" -> """
      WITH pref AS (
        SELECT substr(p_brand, 7, 2) AS code
        FROM part WHERE p_retailprice > 905.0
        GROUP BY 1 HAVING count(*) >= 3),
      codes AS (
        SELECT code FROM (VALUES ('2'), ('5'), ('6'), ('11'), ('14'),
                                 ('17'), ('20'), ('22'), ('24'), ('25')) AS t(code)
        INTERSECT
        SELECT code FROM pref)
      SELECT n_name, count(*) AS n_lines,
             CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS net_c
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE substr(p_brand, 7, 2) IN (SELECT code FROM codes)
        AND year(o_orderdate) = 1997
      GROUP BY n_name ORDER BY n_name""",

    // q79 (0:07 published, performance.md:158): the store-visit shape —
    // a FACT-SCALE composite-visit-key aggregate ((order, supplier
    // nation) grain ≙ q79's (ticket, customer, addr, city); ds72's
    // near-row-distinct-group cardinality class) under an OR'd dim
    // band (q79's household-demographics disjunction), with the
    // customer dim joined OUTSIDE the aggregate and substr() in the
    // output ordering. The month filter prunes before the join; the
    // ORDER BY is totalized with the visit grain key so the LIMIT's
    // row set is deterministic in both engines.
    "ds79_store_visits" -> """
      WITH visits AS (
        SELECT l_orderkey AS visit, o_custkey AS cust, n_name AS city,
               CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT) AS amt_c,
               CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS profit_c
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE (s_acctbal > 5000.0 OR s_nationkey < 10)
          AND month(o_orderdate) = 4
        GROUP BY 1, 2, 3)
      SELECT c_name, substr(city, 1, 8) AS city8, visit,
             round(CAST(amt_c AS DOUBLE) / 100.0, 2) AS amt,
             round(CAST(profit_c AS DOUBLE) / 100.0, 2) AS profit
      FROM visits JOIN customer ON cust = c_custkey
      ORDER BY c_name, city8, profit, visit, city LIMIT 100""",

    // q97 (0:05 published, performance.md:176): the channel-overlap
    // census — two DISTINCT (customer, item) key sets FULL OUTER
    // JOINed on the compound key, all three Venn regions counted in
    // ONE pass of conditional sums (ds38/ds87 pin INTERSECT/EXCEPT,
    // which each emit one region; q97's construction emits all three
    // without re-deriving the sets). Both sides shuffle on the same
    // compound key, so the full-outer join is co-partitioned.
    "ds97_channel_overlap" -> """
      WITH ssci AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'N'),
      csci AS (
        SELECT DISTINCT o_custkey AS cust, l_partkey AS item
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_returnflag = 'A')
      SELECT CAST(sum(CASE WHEN s.cust IS NOT NULL AND c.cust IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_only,
             CAST(sum(CASE WHEN s.cust IS NULL AND c.cust IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS catalog_only,
             CAST(sum(CASE WHEN s.cust IS NOT NULL AND c.cust IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS store_and_catalog
      FROM ssci s FULL OUTER JOIN csci c
        ON s.cust = c.cust AND s.item = c.item""",

    // q17 (0:05 published, performance.md:96): the purchase → return →
    // repurchase TRIPLE fact chain (q25/q29 share the construction) —
    // three lineitem-derived legs equi-joined on a fact-scale compound
    // key with date-ordering predicates, grouped stats per brand. The
    // chain key is (customer, brand) — the driver's part space grows
    // with SF, so same-(customer, part) cross-flag repeats VANISH at
    // scale (measured 13/1/0 chains at sf0.001/0.01/0.1); the brand
    // key scales with |customers| (14/87/707 chains). All three legs
    // derive from the biggest relation keyed fact-scale, so the joins
    // carry the r15 MERGE-hint boundary (pg_hint_plan dialect; DuckDB
    // reads the hints as comments) — an AQE broadcast of any leg is
    // the ds16 defect class. Only the part dim broadcasts.
    "ds17_return_repurchase" -> """
      WITH purch AS (
        SELECT o_custkey AS cust, p_brand AS brand,
               CAST(l_quantity AS BIGINT) AS q, o_orderdate AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE l_returnflag = 'N' AND year(o_orderdate) = 1996
          AND quarter(o_orderdate) = 1),
      ret AS (
        SELECT o_custkey AS cust, p_brand AS brand,
               CAST(l_quantity AS BIGINT) AS q, o_orderdate AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE l_returnflag = 'R'),
      rep AS (
        SELECT o_custkey AS cust, p_brand AS brand,
               CAST(l_quantity AS BIGINT) AS q, o_orderdate AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN part ON l_partkey = p_partkey
        WHERE l_returnflag = 'A')
      SELECT /*+ MERGE(pu), MERGE(r), MERGE(rp) */ pu.brand,
             count(*) AS n_chains,
             CAST(sum(pu.q) AS BIGINT) AS purch_qty,
             CAST(sum(r.q) AS BIGINT) AS ret_qty,
             CAST(sum(rp.q) AS BIGINT) AS rep_qty
      FROM purch pu
      JOIN ret r ON pu.cust = r.cust AND pu.brand = r.brand AND r.d > pu.d
      JOIN rep rp ON pu.cust = rp.cust AND pu.brand = rp.brand AND rp.d > r.d
      GROUP BY pu.brand ORDER BY pu.brand""",

    // q61 (0:05 published, performance.md:140): the promotional-sales
    // ratio — TWO uncorrelated scalar subqueries over differently
    // filtered stars emitted as a one-row ratio (ds23 pins a scalar
    // threshold feeding a filter; q61's construction makes the scalars
    // THE output). Exact cents both sides; the ratio divides once at
    // the output edge.
    "ds61_promo_ratio" -> """
      SELECT round(CAST(promo_c AS DOUBLE) / total_c, 6) AS promo_ratio,
             round(CAST(promo_c AS DOUBLE) / 100.0, 2) AS promotional,
             round(CAST(total_c AS DOUBLE) / 100.0, 2) AS total
      FROM (SELECT
        (SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE month(o_orderdate) = 4
           AND o_orderpriority IN ('1-URGENT', '2-HIGH')) AS promo_c,
        (SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE month(o_orderdate) = 4) AS total_c) t""",

    // q44 (0:05 published, performance.md:123): the best/worst report —
    // ONE per-item performance aggregate referenced by an ASCENDING
    // and a DESCENDING rank window plus an average threshold (items
    // kept above 0.9× the mean, cross-multiplied exact integers), the
    // two rankings JOINED ON RANK so row k pairs the k-th best with
    // the k-th worst, item dim joined twice above. The thrice-
    // referenced aggregate spools (ShareInputScan discipline; |parts|-
    // bounded — see the PROF_r16 spool table).
    "ds44_best_worst" -> s"WITH perf AS ($Ds44Perf) $Ds44Outer"
  )

  /** The multiply-referenced CTEs PG materializes and Spark would
    * inline: each spools once with an eager `localCheckpoint` under its
    * view name (the q65 ShareInputScan analog; `Harness.hygiene` releases
    * it after the query) and the outer text reads the view. name →
    * (view, CTE text, outer text); the oracle keeps the `WITH` text. */
  private val spooledCtes: Map[String, (String, String, String)] = Map(
    // 4×-referenced; inlined it costs 8 fact scans
    "ds04_yoy_growth" -> (("year_total", Ds04YearTotal, Ds04Outer)),
    // 2×-referenced moment CTE; inlined it costs a second full fact
    // scan, spooled it is |parts × months| rows
    "ds39_inventory_cov" -> (("cov39", Ds39Cov, Ds39Outer)),
    // 2×-referenced weekly pivot; Spark's weekday() is the one token
    // that differs from the oracle's isodow()-1
    "ds59_weekly_pivot" -> (("wk59", ds59Wk("weekday(o_orderdate)"), Ds59Outer)),
    // the 8-relation join runs ONCE; the year-pair self-join probes the spool
    "ds64_wide_twoyear" -> (("cross_sales64", Ds64CrossSalesSpark, Ds64Outer)),
    // 4×-referenced dim-carrying year_total
    "ds11_yoy_customer_dims" -> (("year_total11", Ds11YearTotal, Ds11Outer)),
    // 4×-referenced union-tagged year_total
    "ds74_union_yoy" -> (("year_total74", Ds74YearTotal, Ds74Outer)),
    // one fact scan: the region ranking and the ROLLUP both read the
    // finest (region, nation) profit aggregate (see Ds70Base — the spec
    // text computed the 5-relation join twice)
    "ds70_grouping_rank" -> (("base70", Ds70Base, Ds70Outer)),
    // six-way-referenced per-item aggregate (two rank windows + four
    // scalar threshold subqueries)
    "ds44_best_worst" -> (("perf", Ds44Perf, Ds44Outer)),
    // 6×-referenced quarterly CTE; inlined it would re-derive the
    // 4-relation fact aggregate six times
    "ds31_qoq_chain" -> (("qt31", Ds31QTotal, Ds31Outer))
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    sqlText.map { case (name, text) =>
      name -> ((s: SparkSession, dir: String) => {
        Tables.register(s, dir)
        // ds67 (r12 verdict #3): the ROLLUP must not Expand ×5 the full
        // 3-table join output — the eager-agg rollup variant pre-aggregates
        // at the finest (brand,type,yr,mon) key below the Expand. Same
        // opt-in conf discipline as x03; the SQL text (and the oracle)
        // stays the naive spec form — the rewrite is the optimizer's job.
        if (name == "ds67_rollup_rank" || name == "ds80_channel_report"
            || name == "ds70_grouping_rank" || name == "ds18_avg_rollup_dims"
            || name == "ds05_channel_sales_returns") {
          // all ROLLUP over a fact-scale input: the eager-agg rollup
          // variant pre-aggregates at the finest key below the Expand
          s.conf.set(graft.rules.EagerAggRule.EnabledConf, "true")
        }
        if (spooledCtes.contains(name)) {
          val (view, cte, outer) = spooledCtes(name)
          s.sql(cte).localCheckpoint().createOrReplaceTempView(view)
          s.sql(outer)
        } else if (name == "ds65_underperforming") {
          // one pass: the per-nat totals come from a window over the
          // per-(nat, part) aggregate (see Ds65Window — the spec's
          // spool + re-aggregate + join-back collapses)
          s.sql(Ds65Window)
        } else if (name == "ds18_avg_rollup_dims") {
          // Spark spells integer division `div`; the oracle text has
          // DuckDB's `//` — the one divergent token (ds59 precedent)
          s.sql(ds18Text("div"))
        } else if (name == "ds14_cross_channel") {
          // guide §2.4 (remove shuffles outright): the spec's 3-way
          // INTERSECT scans lineitem three times and pays two
          // distinct+join exchanges; the same distinct item set is ONE
          // scan + ONE map-side-combinable aggregate — an item is in
          // all three channels iff all three returnflag classes were
          // seen under its key. max(CASE) flags, not count(DISTINCT):
          // no Expand, no DQA. The oracle keeps the spec INTERSECT
          // text, so the hash compare proves the set equal.
          s.sql(Ds14FlagText)
        } else s.sql(text)
      })
    }

  def oracle: Map[String, String] = sqlText
}
