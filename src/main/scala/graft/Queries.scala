package graft

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.filter.{Compiler, FilterEnv}
import graft.flow.TestFlowView
import graft.operators.{AlertTimeline, Fwm, TopK}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Driver-checked query inventory (one entry per operator family of
  * SURVEY.md §2 + the LLM-pipeline extensions).
  *
  * ORACLE EXACTNESS RULES (every query here follows them):
  *  - aggregate only integers: doubles are floored to scaled BIGINTs at row
  *    level first (`FLOOR(x*100)`), so SUMs are order-independent and exact
  *    in both engines;
  *  - row-level double math mirrors the op order exactly (IEEE 754 ops are
  *    deterministic given identical operand order);
  *  - every result has a total deterministic ORDER BY, with null placement
  *    explicit in the DuckDB text (Spark: asc→NULLS FIRST, desc→NULLS LAST);
  *  - DuckDB SUM(BIGINT) returns HUGEINT → always CAST back to BIGINT.
  */
final case class Q(name: String,
                   run: (SparkSession, String) => DataFrame,
                   oracle: Option[String])

object Queries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** DuckDB flow CTE shared by all flow queries. */
  private val F = TestFlowView.duckdbCte

  // ---------------------------------------------------------------- fwm agg
  private val q01 = Q(
    "q01_fwm_agg",
    (s, dir) => {
      val env = FilterEnv.flow(s)
      Fwm.batch(TestFlowView.load(s, dir), env,
        Fwm.Conf("hourly", Seq("octets desc", "proto"), timeSec = 3600),
        samplingRate = Some(col("sampling_rate")))
    },
    Some(s"""WITH $F,
      agg AS (
        SELECT ts_sec - (ts_sec % 3600) AS time,
               protocol AS proto,
               CAST(SUM(in_bytes * 1 * sampling_rate) AS BIGINT) AS octets
        FROM flow GROUP BY 1, 2)
      SELECT time, proto, octets FROM agg
      ORDER BY time ASC, octets DESC, proto ASC"""))

  // ------------------------------------------------------- top-N + "others"
  private val q02 = Q(
    "q02_fwm_topn_others",
    (s, dir) => {
      val env = FilterEnv.flow(s)
      Fwm.batch(TestFlowView.load(s, dir), env,
        Fwm.Conf("weekly", Seq("octets desc", "src host"),
          timeSec = 604800, limit = Some(10)),
        samplingRate = Some(col("sampling_rate")))
    },
    Some(s"""WITH $F,
      agg AS (
        SELECT ts_sec - (ts_sec % 604800) AS time,
               ip4_src_addr AS src_host,
               CAST(SUM(in_bytes * 1 * sampling_rate) AS BIGINT) AS octets
        FROM flow GROUP BY 1, 2),
      rn AS (SELECT *, row_number() OVER
               (PARTITION BY time
                ORDER BY octets DESC NULLS LAST, src_host ASC NULLS FIRST)
               AS r FROM agg)
      SELECT * FROM (
        SELECT time, src_host, octets FROM rn WHERE r <= 10
        UNION ALL
        SELECT time, NULL AS src_host, CAST(SUM(octets) AS BIGINT) AS octets
        FROM rn WHERE r > 10 GROUP BY time)
      ORDER BY time ASC, (src_host IS NULL) ASC,
               octets DESC NULLS LAST, src_host ASC NULLS FIRST"""))

  // ------------------------------------------------------ filter DSL (CIDR)
  private val q03 = Q(
    "q03_filter_cidr",
    (s, dir) => {
      val env = FilterEnv.flow(s)
      val pred = Compiler.filterColumn(
        "dst net 192.0.0.0/10 and proto 6 and not (dst port 22 or 23)", env)
        .fold(e => sys.error(e), identity)
      TestFlowView.load(s, dir)
        .filter(pred)
        .groupBy(col("dst_as"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"))
        .orderBy(col("dst_as").asc)
    },
    Some(s"""WITH $F
      SELECT dst_as, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM flow
      WHERE (ip4_dst_addr & 4290772992) = 3221225472
        AND protocol = 6
        AND NOT (l4_dst_port = 22 OR l4_dst_port = 23)
      GROUP BY dst_as ORDER BY dst_as ASC"""))

  // ------------------------------------- filter DSL (precedence, functions)
  private val q04 = Q(
    "q04_filter_complex",
    (s, dir) => {
      val env = FilterEnv.flow(s)
      val pred = Compiler.filterColumn(
        "Src net 10.0.0.0/13 and (PORT 443 or 80) " +
          "or dst port 22 and div(octets, packets) 0-100", env)
        .fold(e => sys.error(e), identity)
      TestFlowView.load(s, dir)
        .filter(pred)
        .groupBy(col("protocol").as("proto"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"))
        .orderBy(col("proto").asc)
    },
    Some(s"""WITH $F
      SELECT protocol AS proto, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM flow
      WHERE ((ip4_src_addr & 4294443008) = 167772160
             AND (l4_src_port = 443 OR l4_dst_port = 443
                  OR l4_src_port = 80 OR l4_dst_port = 80))
         OR (l4_dst_port = 22
             AND (CASE WHEN in_pkts = 0 THEN 0
                  ELSE CAST(FLOOR(CAST(in_bytes AS DOUBLE) / in_pkts)
                       AS BIGINT) END) BETWEEN 0 AND 100)
      GROUP BY protocol ORDER BY proto ASC"""))

  // ----------------------------------------- scan: pushdown + column pruning
  private val q05 = Q(
    "q05_scan_prune",
    (s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") < lit(java.sql.Timestamp.valueOf(
          "1997-01-01 00:00:00")))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_extendedprice") * 100)).as("price_c"),
          sum(floor(col("l_quantity"))).as("qty"))
        .orderBy(col("l_returnflag").asc),
    Some("""SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS price_c,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l_returnflag ORDER BY l_returnflag ASC"""))

  // --------------------------------------------------- broadcast dim join
  private val q06 = Q(
    "q06_join_bcast",
    (s, dir) =>
      t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("l_quantity"))).as("qty"))
        .orderBy(col("p_brand").asc),
    Some("""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_brand ORDER BY p_brand ASC"""))

  // ------------------------------------------------------------- star join
  private val q07 = Q(
    "q07_join_star",
    (s, dir) => {
      val region = t(s, dir, "region")
      val nation = t(s, dir, "nation")
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice") * 100)).as("price_c"))
        .orderBy(col("r_name").asc, col("n_name").asc)
    },
    Some("""SELECT r_name, n_name, CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS price_c
      FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      GROUP BY r_name, n_name ORDER BY r_name ASC, n_name ASC"""))

  // ------------------------------------------------------- semi / anti join
  private val q08 = Q(
    "q08_anti_semi",
    (s, dir) => {
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val anti = customer.join(orders,
        col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("no_orders"))
      val semi = customer.join(orders,
        col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"))
        .withColumn("kind", lit("has_orders"))
      anti.unionByName(semi)
        .orderBy(col("kind").asc, col("c_mktsegment").asc)
    },
    Some("""SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
                   'no_orders' AS kind
      FROM customer WHERE NOT EXISTS
        (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment
      UNION ALL
      SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n,
             'has_orders' AS kind
      FROM customer WHERE EXISTS
        (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      GROUP BY c_mktsegment
      ORDER BY kind ASC, c_mktsegment ASC"""))

  // -------------------------------------------------------- window functions
  private val q09 = Q(
    "q09_window_rank",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy(col("o_custkey").asc, col("rn").asc)
    },
    Some("""SELECT o_custkey, o_orderkey, CAST(rn AS INT) AS rn FROM (
        SELECT o_custkey, o_orderkey, row_number() OVER
          (PARTITION BY o_custkey
           ORDER BY o_totalprice DESC NULLS LAST, o_orderkey ASC) AS rn
        FROM orders) WHERE rn <= 3
      ORDER BY o_custkey ASC, rn ASC"""))

  // --------------------------------------------------------- top-X% cut
  private val q10 = Q(
    "q10_toppct_cut",
    (s, dir) => {
      val agg = TestFlowView.load(s, dir)
        .groupBy(col("protocol").as("proto"),
          col("l4_dst_port").as("port"))
        .agg(sum(col("in_bytes") * col("sampling_rate")).as("octets"))
      TopK.topPctCut(agg, "octets", 90.0,
          Seq(col("proto").asc, col("port").asc))
        .orderBy(col("octets").desc, col("proto").asc, col("port").asc)
    },
    Some(s"""WITH $F,
      agg AS (
        SELECT protocol AS proto, l4_dst_port AS port,
               CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
        FROM flow GROUP BY 1, 2),
      c AS (SELECT *,
        COALESCE(SUM(octets) OVER
          (ORDER BY octets DESC NULLS LAST, proto ASC, port ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        SUM(octets) OVER () AS tot FROM agg)
      SELECT proto, port, octets FROM c
      WHERE cum < (tot * 90.0) / 100.0
      ORDER BY octets DESC NULLS LAST, proto ASC, port ASC"""))

  // ------------------------------------- distinct aggregate (+ approx)
  private val q36 = Q(
    "q36_count_distinct",
    (s, dir) =>
      t(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type").asc),
    Some("""SELECT event_type,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY event_type ORDER BY event_type ASC"""))

  // ------------------------------------------------ intersect / except
  private val q37 = Q(
    "q37_intersect_except",
    (s, dir) => {
      val customer = t(s, dir, "customer")
      val orders = t(s, dir, "orders")
      val buyers = orders.select(col("o_custkey").as("k")).distinct()
      val highBal = customer.filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey").as("k"))
      val both = highBal.intersect(buyers)
        .withColumn("src", lit("high_bal_buyer"))
      val only = highBal.except(buyers)
        .withColumn("src", lit("high_bal_no_orders"))
      both.unionByName(only).orderBy(col("k").asc, col("src").asc)
    },
    Some("""SELECT * FROM (
        SELECT c_custkey AS k, 'high_bal_buyer' AS src FROM customer
        WHERE c_acctbal > 5000.0
        INTERSECT SELECT o_custkey, 'high_bal_buyer' FROM orders
          JOIN customer ON o_custkey = c_custkey
          WHERE c_acctbal > 5000.0
        UNION ALL
        SELECT k, 'high_bal_no_orders' AS src FROM (
          SELECT c_custkey AS k FROM customer WHERE c_acctbal > 5000.0
          EXCEPT SELECT o_custkey FROM orders))
      ORDER BY k ASC, src ASC"""))

  // ----------------------------------------------------------- rollup
  private val q25 = Q(
    "q25_rollup",
    (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), sum(floor(col("l_quantity"))).as("qty"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(FLOOR(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""))

  // ----------------------------------------------------------- distinct
  private val q26 = Q(
    "q26_distinct",
    (s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority"))
        .distinct()
        .orderBy(col("o_orderstatus").asc, col("o_orderpriority").asc),
    Some("""SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
      ORDER BY o_orderstatus ASC, o_orderpriority ASC"""))

  // ----------------------------------------------------------- union all
  private val q27 = Q(
    "q27_union",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val hi = orders.filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("k"), lit("hi").as("src"))
      val pri = orders.filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"), lit("pri").as("src"))
      hi.unionByName(pri).orderBy(col("k").asc, col("src").asc)
    },
    Some("""SELECT o_orderkey AS k, 'hi' AS src FROM orders
      WHERE o_totalprice > 400000.0
      UNION ALL
      SELECT o_orderkey AS k, 'pri' AS src FROM orders
      WHERE o_orderpriority = '1-URGENT'
      ORDER BY k ASC, src ASC"""))

  // -------------------------------------------- multi-key mixed-order sort
  private val q28 = Q(
    "q28_sort_multikey",
    (s, dir) =>
      t(s, dir, "lineitem")
        .orderBy(col("l_returnflag").asc, col("l_quantity").desc,
          col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100)
        .select(col("l_returnflag"),
          floor(col("l_quantity")).cast(LongType).as("qty"),
          col("l_orderkey"), col("l_linenumber")),
    Some("""SELECT l_returnflag, CAST(FLOOR(l_quantity) AS BIGINT) AS qty,
             l_orderkey, l_linenumber
      FROM lineitem
      ORDER BY l_returnflag ASC, l_quantity DESC NULLS LAST,
               l_orderkey ASC, l_linenumber ASC
      LIMIT 100"""))

  // --------------------------------------- mavg decayed value (stateful)
  /** Shared recursive-CTE oracle prefix computing the integer fixed-point
    * decay recurrence per src_host (reference mavg_recalc
    * monit-objects-mavg.c:571-593, T=600s). */
  private val mavgCte = s"""WITH RECURSIVE $F,
      ev AS (
        SELECT ip4_src_addr AS src_host, ts_sec,
               in_bytes * sampling_rate AS v,
               CAST(row_number() OVER (PARTITION BY ip4_src_addr
                 ORDER BY ts_sec, flow_id) AS BIGINT) AS i
        FROM flow),
      st AS (
        SELECT src_host, i, ts_sec, v AS n FROM ev WHERE i = 1
        UNION ALL
        SELECT ev.src_host, ev.i, ev.ts_sec,
               CASE WHEN ev.ts_sec - st.ts_sec >= 600 THEN ev.v
                    ELSE st.n - ((ev.ts_sec - st.ts_sec) * st.n) // 600
                         + ev.v END
        FROM st JOIN ev ON ev.src_host = st.src_host AND ev.i = st.i + 1),
      fin AS (
        SELECT st.src_host, CAST(st.n AS BIGINT) AS n,
               CAST(st.ts_sec AS BIGINT) AS t_last
        FROM st JOIN (SELECT src_host, MAX(i) AS mi FROM ev
                      GROUP BY src_host) lastn
          ON st.src_host = lastn.src_host AND st.i = lastn.mi)"""

  private def mavgFinal(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Mavg
    val flow = TestFlowView.load(s, dir).select(
      col("ip4_src_addr").as("src_host"), col("ts_sec"), col("flow_id"),
      (col("in_bytes") * col("sampling_rate")).as("v"))
    Mavg.decayedFinal(flow,
      Mavg.Conf(Seq("src_host"), "ts_sec", "flow_id", "v", windowSec = 600))
  }

  private val q29 = Q(
    "q29_mavg_decay",
    (s, dir) => mavgFinal(s, dir).orderBy(col("src_host").asc),
    Some(s"""$mavgCte
      SELECT src_host, n, t_last FROM fin ORDER BY src_host ASC"""))

  // ---------------------------- mavg threshold check with per-key limits
  /** Per-key rate limits (bytes/sec over the 600 s window) with a default
    * — the engine analog of the limits CSV + `"default"`
    * (reference CONFIG.md:438-469). Breach: n/T ≥ limit ⇔ n ≥ limit*T. */
  private val mavgLimits: Map[Long, Long] = Map(
    167772160L -> 5L,   // src host of user_id 0
    167780079L -> 8L,   // user_id 1
    167787998L -> 12L)  // user_id 2
  private val mavgDefaultLimit = 15L

  private val q30 = Q(
    "q30_mavg_threshold",
    (s, dir) => {
      val limitCol = mavgLimits.foldLeft(lit(mavgDefaultLimit)) {
        case (acc, (ip, lim)) =>
          when(col("src_host") === lit(ip), lit(lim)).otherwise(acc)
      }
      mavgFinal(s, dir)
        .withColumn("lim", limitCol)
        .filter(col("n") >= col("lim") * lit(600L))
        .select(col("src_host"), col("n"), col("lim"))
        .orderBy(col("src_host").asc)
    },
    Some(s"""$mavgCte,
      lim AS (
        SELECT src_host, n,
               CAST(CASE ${mavgLimits.map { case (ip, l) =>
                 s"WHEN src_host = $ip THEN $l" }.mkString(" ")}
               ELSE $mavgDefaultLimit END AS BIGINT) AS lim
        FROM fin)
      SELECT src_host, n, lim FROM lim WHERE n >= lim * 600
      ORDER BY src_host ASC"""))

  // -------------------------------------------- scalar function pack
  private val q13 = Q(
    "q13_func_pack",
    (s, dir) => {
      import graft.functions.NetFns
      TestFlowView.load(s, dir)
        .filter(col("flow_id") % 97 === 0)
        .select(
          col("flow_id"),
          NetFns.tfstr(col("tcp_flags")).as("tf"),
          NetFns.portstr(col("l4_dst_port")).as("psvc"),
          NetFns.ppstr(col("l4_src_port"), col("l4_dst_port")).as("pp"),
          NetFns.xdivL(col("in_bytes"), col("in_pkts"), 10).as("dl"))
        .orderBy(col("flow_id").asc)
    },
    Some(s"""WITH $F,
      svc(p, nm) AS (VALUES ${OracleSql.servicesValues}),
      sub AS (SELECT flow_id, tcp_flags, l4_src_port AS sp,
                     l4_dst_port AS dp, in_bytes, in_pkts
              FROM flow WHERE flow_id % 97 = 0),
      j AS (SELECT sub.*, s1.nm AS n1, s2.nm AS n2,
              CASE WHEN in_pkts = 0 THEN 0
                   ELSE CAST(FLOOR(CAST(in_bytes AS DOUBLE) / in_pkts)
                        AS BIGINT) END AS q
            FROM sub LEFT JOIN svc s1 ON sub.sp = s1.p
                     LEFT JOIN svc s2 ON sub.dp = s2.p)
      SELECT flow_id,
        ${OracleSql.tfstrSql("tcp_flags")} AS tf,
        CASE WHEN n2 IS NOT NULL
             THEN n2 || ' (' || CAST(dp AS VARCHAR) || ')'
             ELSE CAST(dp AS VARCHAR) END AS psvc,
        CASE
          WHEN n1 IS NOT NULL AND n2 IS NOT NULL THEN
            n1 || '(' || CAST(sp AS VARCHAR) || ') -> ' ||
            n2 || '(' || CAST(dp AS VARCHAR) || ')'
          WHEN sp = dp THEN
            CAST(sp AS VARCHAR) || ' -> ' || CAST(dp AS VARCHAR)
          WHEN sp < dp THEN
            CASE WHEN n2 IS NOT NULL THEN
                   CAST(sp AS VARCHAR) || ' -> ' ||
                   n2 || '(' || CAST(dp AS VARCHAR) || ')'
                 WHEN n1 IS NOT NULL THEN
                   n1 || '(' || CAST(sp AS VARCHAR) || ') ->'
                 ELSE CAST(sp AS VARCHAR) || ' ->' END
          ELSE
            CASE WHEN n1 IS NULL AND n2 IS NULL THEN
                   '-> ' || CAST(dp AS VARCHAR)
                 WHEN n1 IS NULL AND n2 IS NOT NULL THEN
                   '-> ' || n2 || '(' || CAST(dp AS VARCHAR) || ')'
                 WHEN n1 IS NOT NULL AND n2 IS NULL THEN
                   n1 || '(' || CAST(sp AS VARCHAR) || ') -> ' ||
                   CAST(dp AS VARCHAR)
                 ELSE '' END
        END AS pp,
        CAST(CASE WHEN q <= 0 THEN 0
             ELSE list_max(list_filter(${OracleSql.powersList(10)},
                           x -> x <= q)) END AS BIGINT) AS dl
      FROM j ORDER BY flow_id ASC"""))

  // ------------------------------------------------ GeoIP / ASN enrich
  /** The q14 enrichment body, parameterized on the GeoDb so q77 can
    * run the identical query through a compiled-artifact-loaded db. */
  private def geoipQuery(s: SparkSession, dir: String,
                         geo: graft.functions.GeoDb): DataFrame =
    TestFlowView.load(s, dir)
      .select(
        geo.geo("country")(col("ip4_dst_addr")).as("country"),
        geo.geo("country_code")(col("ip4_dst_addr")).as("cc"),
        geo.asn(col("ip4_src_addr")).as("src_asn"),
        geo.asd(col("ip4_src_addr")).as("src_asd"),
        col("in_bytes"), col("sampling_rate"))
      .groupBy(col("country"), col("cc"), col("src_asn"), col("src_asd"))
      .agg(count(lit(1)).as("n"),
        sum(col("in_bytes") * col("sampling_rate")).as("octets"))
      .orderBy(col("country").asc, col("cc").asc, col("src_asn").asc)

  /** Shared oracle for q14 (in-memory tables) and q77 (parquet
    * artifact) — the two paths are defined to be identical. */
  private lazy val geoipOracle: String = {
    import graft.flow.BuiltinTables
    // oracle mirrors the SAME loader-built tables the query uses
    val geo4 = BuiltinTables.geoDb.geo4
    val as4 = BuiltinTables.geoDb.as4
    s"""WITH $F,
      g AS (SELECT
        ${OracleSql.lpmCase(geo4, "ip4_dst_addr", 2)} AS country,
        ${OracleSql.lpmCase(geo4, "ip4_dst_addr", 1)} AS cc,
        ${OracleSql.lpmCase(as4, "ip4_src_addr", 0)} AS src_asn,
        ${OracleSql.lpmCase(as4, "ip4_src_addr", 1)} AS src_asd,
        in_bytes, sampling_rate
      FROM flow)
      SELECT country, cc, src_asn, src_asd,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
      FROM g GROUP BY country, cc, src_asn, src_asd
      ORDER BY country ASC, cc ASC, src_asn ASC"""
  }

  private val q14 = Q(
    "q14_geoip",
    (s, dir) => geoipQuery(s, dir, graft.flow.BuiltinTables.geoDb),
    Some(geoipOracle))

  // ------------------------------------- classification (top-X% classes)
  private val q31 = Q(
    "q31_classify",
    (s, dir) => {
      import graft.flow.BuiltinTables
      import graft.functions.NetFns
      import graft.operators.Classification
      val flow = TestFlowView.load(s, dir).select(
        col("protocol").as("proto"), col("l4_dst_port").as("port"),
        col("in_bytes"), col("sampling_rate"))
      val nameCol = concat(
        coalesce(element_at(typedlit(BuiltinTables.protoNames), col("proto")),
          col("proto").cast("string")),
        lit(","), NetFns.portstr(col("port")))
      val classes = Classification.classTable(flow,
        Classification.Conf(Seq("proto", "port"), "octets", 90.0, nameCol),
        col("in_bytes") * col("sampling_rate"))
      Classification.label(flow, classes, Seq("proto", "port"))
        .groupBy(col("class0"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(asc_nulls_first("class0"))
    },
    Some(s"""WITH $F,
      agg AS (SELECT protocol AS proto, l4_dst_port AS port,
                CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
              FROM flow GROUP BY 1, 2),
      c AS (SELECT *,
        COALESCE(SUM(octets) OVER
          (ORDER BY octets DESC NULLS LAST, proto ASC, port ASC
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum,
        SUM(octets) OVER () AS tot FROM agg),
      cls AS (SELECT proto, port,
                ${OracleSql.protoNameSql("proto")} || ',' ||
                CASE WHEN svc.nm IS NOT NULL
                     THEN svc.nm || ' (' || CAST(port AS VARCHAR) || ')'
                     ELSE CAST(port AS VARCHAR) END AS class_name
              FROM c LEFT JOIN (VALUES ${OracleSql.servicesValues})
                svc(p, nm) ON c.port = svc.p
              WHERE cum < (tot * 90.0) / 100.0)
      SELECT cls.class_name AS class0, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
      FROM flow LEFT JOIN cls
        ON flow.protocol = cls.proto AND flow.l4_dst_port = cls.port
      GROUP BY cls.class_name
      ORDER BY class0 ASC NULLS FIRST"""))

  // -------------------------------------- IPv6 filter (host6/net6/lists)
  /** NAT64-style bases of the test flow's v6 columns
    * (TestFlowView.sparkOnlyDerivations). */
  private val v6SrcBase = (BigInt(0x2001) << 112) | (BigInt(0xdb8) << 96)
  private val v6DstBase = v6SrcBase | (BigInt(1) << 80)

  /** Embedded-v4 [start,end] of a v6 CIDR under `base` (oracle side). */
  private def v6Emb(cidr: String, base: BigInt): (Long, Long) = {
    val p = graft.functions.Lpm.prefix(cidr)
    ((p.start - base).toLong, (p.end - base).toLong)
  }

  private val q38 = Q(
    "q38_filter_v6",
    (s, dir) => {
      import graft.flow.BuiltinTables
      // host6/net6 CIDR + v6 IP-list membership through the compiled
      // codegen LPM path (no ScalaUDF in the plan — PlansSpec asserts)
      val env = FilterEnv.flow(s, ipLists = BuiltinTables.ipLists)
      val pred = Compiler.filterColumn(
        "src net6 2001:db8::a04:0/110 or (dst net6 docs6 and proto 6)", env)
        .fold(e => sys.error(e), identity)
      TestFlowView.load(s, dir)
        .filter(pred)
        .groupBy(col("dst_as"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("dst_as").asc)
    }, {
      // same prefixes, rebased onto the embedded v4 integers
      val (ss, se) = v6Emb("2001:db8::a04:0/110", v6SrcBase)
      val (d1s, d1e) = v6Emb("2001:db8:1::c000:0/106", v6DstBase)
      val (d2s, d2e) = v6Emb("2001:db8:1::c0a8:0/112", v6DstBase)
      Some(s"""WITH $F
      SELECT dst_as, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
      FROM flow
      WHERE (ip4_src_addr BETWEEN $ss AND $se)
         OR ((ip4_dst_addr BETWEEN $d1s AND $d1e
              OR ip4_dst_addr BETWEEN $d2s AND $d2e)
             AND protocol = 6)
      GROUP BY dst_as ORDER BY dst_as ASC""")
    })

  // --------------------------------------------- GeoIP / ASN enrich (v6)
  private val q39 = Q(
    "q39_geoip_v6",
    (s, dir) => {
      import graft.flow.BuiltinTables
      val geo = BuiltinTables.geoDb
      TestFlowView.load(s, dir)
        .select(
          geo.geo("country")(col("ip6_dst_addr")).as("country"),
          geo.geo("country_code")(col("ip6_dst_addr")).as("cc"),
          geo.asn(col("ip6_src_addr")).as("src_asn"),
          geo.asd(col("ip6_src_addr")).as("src_asd"),
          col("in_bytes"), col("sampling_rate"))
        .groupBy(col("country"), col("cc"), col("src_asn"), col("src_asd"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("country").asc, col("cc").asc, col("src_asn").asc)
    }, {
      import graft.flow.BuiltinTables
      // oracle mirrors the SAME loader-built v6 tables, rebased to v4
      val geo6 = BuiltinTables.geoDb.geo6
      val as6 = BuiltinTables.geoDb.as6
      Some(s"""WITH $F,
      g AS (SELECT
        ${OracleSql.lpmCase(geo6, "ip4_dst_addr", 2, v6DstBase)} AS country,
        ${OracleSql.lpmCase(geo6, "ip4_dst_addr", 1, v6DstBase)} AS cc,
        ${OracleSql.lpmCase(as6, "ip4_src_addr", 0, v6SrcBase)} AS src_asn,
        ${OracleSql.lpmCase(as6, "ip4_src_addr", 1, v6SrcBase)} AS src_asd,
        in_bytes, sampling_rate
      FROM flow)
      SELECT country, cc, src_asn, src_asd,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
      FROM g GROUP BY country, cc, src_asn, src_asd
      ORDER BY country ASC, cc ASC, src_asn ASC""")
    })

  // =================================================== LLM-pipeline ops

  // ------------------------------------------------------- exact dedup
  private val q15 = Q(
    "q15_dedup_exact",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.exactGroups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy(col("keep_id").asc)
    },
    Some("""SELECT CAST(MIN(doc_id) AS BIGINT) AS keep_id,
             CAST(COUNT(*) AS BIGINT) AS copies
      FROM documents GROUP BY text ORDER BY keep_id ASC"""))

  // ------------------------------------------------- MinHash+LSH dedup
  private val q16 = Q(
    "q16_dedup_minhash",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.minhashCandidates(t(s, dir, "documents"), "doc_id", "text",
          shingleK = 3, numHashes = 16, bands = 4)
        .orderBy(col("a").asc, col("b").asc)
    },
    Some(s"""WITH ${OracleSql.minhashPairsCtes}
      SELECT a, b FROM pairs ORDER BY a ASC, b ASC"""))

  // ----------------------------------------------------------- SimHash
  private val q17 = Q(
    "q17_simhash",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", bits = 16)
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH
      toks AS (SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS tok
               FROM documents),
      h AS (SELECT doc_id,
              CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
            FROM toks),
      bitsums AS (SELECT doc_id, ${OracleSql.simhashBitSums("h", 16)}
                  FROM h GROUP BY doc_id)
      SELECT doc_id, ${OracleSql.simhashAssemble(16)} AS simhash
      FROM bitsums ORDER BY doc_id ASC"""))

  // --------------------------------------------------- n-gram Jaccard
  private val q18 = Q(
    "q18_ngram_jaccard",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.ngramJaccardPairs(t(s, dir, "documents"), "doc_id", "text",
          n = 2, blockCol = Some("lang"), minBp = 2000L)
        .orderBy(col("a").asc, col("b").asc)
    },
    Some(s"""WITH
      g AS (SELECT DISTINCT doc_id AS id, lang, unnest(
              ${OracleSql.shinglesSql("text", 2)}) AS g
            FROM documents),
      sz AS (SELECT id, COUNT(*) AS sz FROM g GROUP BY id),
      i AS (SELECT l.id AS a, r.id AS b,
              CAST(COUNT(*) AS BIGINT) AS inter
            FROM g l JOIN g r
              ON l.g = r.g AND l.lang = r.lang AND l.id < r.id
            GROUP BY 1, 2)
      SELECT a, b,
        CAST((10000 * inter) // (sa.sz + sb.sz - inter) AS BIGINT) AS j_bp
      FROM i JOIN sz sa ON i.a = sa.id JOIN sz sb ON i.b = sb.id
      WHERE (10000 * inter) // (sa.sz + sb.sz - inter) >= 2000
      ORDER BY a ASC, b ASC"""))

  // ------------------------------------------------------ language ID
  private val q19 = Q(
    "q19_langid",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"), col("lang"))
        .join(TextAnalysis.langIdDistributed(docs, "doc_id", "text"),
          Seq("doc_id"))
        .select(col("doc_id"), col("lang"), col("pred"))
        .orderBy(col("doc_id").asc)
    }, {
      import graft.operators.TextAnalysis
      val ordered = TextAnalysis.stopwords.toSeq.sortBy(_._1)
      val countExprs = ordered.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        lang -> (s"len(list_filter(string_split(lower(text), ' '), " +
          s"w -> w IN ($inList)))")
      }
      val withCols = countExprs
        .map { case (l, e) => s"$e AS c_$l" }.mkString(", ")
      val best = "greatest(" + ordered.map(l => s"c_${l._1}")
        .mkString(", ") + ")"
      val pred = ordered.map { case (l, _) =>
        s"WHEN c_$l = __best AND __best > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"""WITH c AS (SELECT doc_id, lang, $withCols FROM documents),
        b AS (SELECT *, $best AS __best FROM c)
        SELECT doc_id, lang, CASE $pred ELSE 'und' END AS pred
        FROM b ORDER BY doc_id ASC""")
    })

  // -------------------------------------------------- quality scoring
  private val q20 = Q(
    "q20_quality",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val metrics = TextAnalysis.qualityMetrics(col("text"))
      t(s, dir, "documents")
        .select((col("doc_id") +:
          metrics.map { case (n, c) => c.as(n) }): _*)
        .orderBy(col("doc_id").asc)
    }, {
      import graft.operators.TextAnalysis
      val en = TextAnalysis.stopwords("en").map(w => s"'$w'")
        .mkString(", ")
      Some(s"""WITH m AS (SELECT doc_id,
        len(list_filter(string_split(text, ' '), w -> w <> ''))
          AS n_tokens,
        list_reduce(list_transform(
          list_filter(string_split(text, ' '), w -> w <> ''),
          w -> CAST(len(w) AS BIGINT)), (a, x) -> a + x) AS charsum,
        (len(text) - len(regexp_replace(text, '[.]', '', 'g')))
         + (len(text) - len(regexp_replace(text, '[,]', '', 'g')))
         + (len(text) - len(regexp_replace(text, '[!]', '', 'g')))
         + (len(text) - len(regexp_replace(text, '[?]', '', 'g')))
          AS n_punct,
        len(list_filter(string_split(lower(text), ' '),
          w -> w IN ($en))) AS n_stop
        FROM documents)
      SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
        CAST(CASE WHEN n_tokens > 0
             THEN FLOOR((10000 * charsum) / n_tokens) ELSE 0 END
             AS BIGINT) AS mean_tok_len_bp,
        CAST(n_punct AS BIGINT) AS n_punct,
        CAST(CASE WHEN n_tokens > 0
             THEN FLOOR((10000 * n_stop) / n_tokens) ELSE 0 END
             AS BIGINT) AS stopword_bp
      FROM m ORDER BY doc_id ASC""")
    })

  // ------------------------------------------------------ token counts
  private val q21 = Q(
    "q21_token_count",
    (s, dir) => {
      import graft.operators.TextAnalysis
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.tokenCount(col("text")).as("n_ws"),
          TextAnalysis.regexTokenCount(col("text")).as("n_re"))
        .orderBy(col("doc_id").asc)
    },
    Some("""SELECT doc_id,
        CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
             AS BIGINT) AS n_ws,
        CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+'))
             AS BIGINT) AS n_re
      FROM documents ORDER BY doc_id ASC"""))

  // ------------------------------------------------ doc fingerprinting
  private val q22 = Q(
    "q22_fingerprint",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
      val fps = docs.select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
      val wc = TextAnalysis.winnowingCounts(docs, "doc_id", "text", 3, 4)
      fps.join(wc, Seq("doc_id"))
        .select(col("doc_id"), col("fp"),
          col("n_winnow").cast(LongType).as("n_winnow"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH w AS (SELECT doc_id,
        md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp,
        ${OracleSql.shinglesSql("text", 3)} AS grams
      FROM documents),
      h AS (SELECT doc_id, fp,
        list_transform(grams, g -> substr(md5(g), 1, 15)) AS hs
      FROM w)
      SELECT doc_id, fp,
        CAST(CASE WHEN len(hs) >= 4 THEN
          len(list_distinct(list_transform(range(1, len(hs) - 4 + 2),
            i -> list_min(list_slice(hs, i, i + 3)))))
        ELSE 0 END AS BIGINT) AS n_winnow
      FROM h ORDER BY doc_id ASC"""))

  // ------------------------------------------- cosine top-k similarity
  private val q23 = Q(
    "q23_cosine_topk",
    (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
      Similarity.topK(emb.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", query, "embedding", 20)
        .select(col("vec_id"), round(col("sim"), 6).as("sim_r"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = 0),
      s AS (SELECT vec_id,
        ${OracleSql.dotSql("embedding", "qv", 64)} /
        (sqrt(${OracleSql.dotSql("embedding", "embedding", 64)}) *
         sqrt(${OracleSql.dotSql("qv", "qv", 64)})) AS sim
      FROM embeddings, q WHERE vec_id <> 0)
      SELECT vec_id, round(sim, 6) AS sim_r FROM s
      ORDER BY sim DESC NULLS LAST, vec_id ASC LIMIT 20"""))

  // --------------------------------------- multimodal binary metadata
  private val q24 = Q(
    "q24_multimodal_meta",
    (s, dir) => {
      import graft.operators.Multimodal
      // deterministic fake payload: 10-byte stub header ('STUB' magic +
      // fmt + w16 + h16 + pad) + utf-8 text body
      val payload = encode(concat(
        lit("STUB"),
        expr("chr(1 + doc_id % 3)"),
        expr("chr(0)"), expr("chr(32 + doc_id % 96)"),
        expr("chr(0)"), expr("chr(32 + (doc_id * 7) % 96)"),
        expr("chr(0)"), col("text")), "UTF-8")
      val withBin = t(s, dir, "documents")
        .select(col("doc_id"), payload.as("payload"))
      Multimodal.withImageMeta(withBin, "payload")
        .select(col("doc_id"),
          col("meta.format").as("format"),
          col("meta.width").cast(LongType).as("width"),
          col("meta.height").cast(LongType).as("height"),
          col("meta.n_bytes").as("n_bytes"),
          col("meta.ok").as("ok"))
        .orderBy(col("doc_id").asc)
    },
    Some("""SELECT doc_id,
        CASE 1 + doc_id % 3 WHEN 1 THEN 'png' WHEN 2 THEN 'jpeg'
             ELSE 'webp' END AS format,
        CAST(32 + doc_id % 96 AS BIGINT) AS width,
        CAST(32 + (doc_id * 7) % 96 AS BIGINT) AS height,
        CAST(10 + octet_length(encode(text)) AS BIGINT) AS n_bytes,
        TRUE AS ok
      FROM documents ORDER BY doc_id ASC"""))

  // real in-JDK codec round-trip: PNG/JPEG payloads encoded by ImageIO
  // with analytic layout (Multimodal.encodeTestImage), decoded by the
  // header-only ImageIO path; the oracle states the expected metadata
  // independently from the generator formula (corrupt rows ok=false).
  private val q59 = Q(
    "q59_image_decode",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val imgs = s.range(64)
        .map(i => (i, Multimodal.encodeTestImage(i)))
        .toDF("id", "payload")
      Multimodal.withImageMeta(imgs, "payload")
        .select(col("id"),
          col("meta.format").as("format"),
          col("meta.width").cast(LongType).as("width"),
          col("meta.height").cast(LongType).as("height"),
          col("meta.channels").cast(LongType).as("channels"),
          col("meta.ok").as("ok"))
        .orderBy(col("id").asc)
    },
    Some("""SELECT i AS id,
        CASE WHEN i % 7 = 0 THEN NULL
             WHEN i % 3 = 2 THEN 'png'
             WHEN i % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(8 + i % 9 AS BIGINT) END AS width,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(5 + (i * 3) % 11 AS BIGINT) END AS height,
        CASE WHEN i % 7 = 0 THEN NULL
             WHEN i % 3 = 0 THEN CAST(1 AS BIGINT)
             WHEN i % 3 = 1 THEN CAST(3 AS BIGINT)
             ELSE CAST(4 AS BIGINT) END AS channels,
        (i % 7 <> 0) AS ok
      FROM range(64) t(i) ORDER BY id ASC"""))

  // real in-JDK audio codec round-trip: 16-bit PCM payloads encoded by
  // javax.sound with analytic parameters — rotating through all three
  // containers decodeAudio claims (WAV/AIFF/AU, each in its native
  // byte order) — decoded header-only; the oracle restates the
  // generator formula (every 7th row corrupt).
  private val q60 = Q(
    "q60_audio_decode",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val wavs = s.range(48)
        .map(i => (i, Multimodal.encodeTestAudio(i)))
        .toDF("id", "payload")
      Multimodal.withAudioMeta(wavs, "payload")
        .select(col("id"),
          col("meta.format").as("format"),
          col("meta.sample_rate").cast(LongType).as("sample_rate"),
          col("meta.channels").cast(LongType).as("channels"),
          col("meta.bits").cast(LongType).as("bits"),
          col("meta.frames").as("frames"),
          col("meta.ok").as("ok"))
        .orderBy(col("id").asc)
    },
    Some("""SELECT i AS id,
        CASE WHEN i % 7 = 0 THEN NULL
             WHEN (i // 3) % 3 = 0 THEN 'wav'
             WHEN (i // 3) % 3 = 1 THEN 'aif'
             ELSE 'au' END AS format,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(8000 * (2 ** (i % 3)) AS BIGINT) END AS sample_rate,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(1 + i % 2 AS BIGINT) END AS channels,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(16 AS BIGINT) END AS bits,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(50 + i % 20 AS BIGINT) END AS frames,
        (i % 7 <> 0) AS ok
      FROM range(48) t(i) ORDER BY id ASC"""))

  // real frame sampling: every 2nd ENCODED sample payload sliced out of
  // mdat via the parsed sample table (stsz/stsc/stco) — the container-
  // level frame extraction a training pipeline runs before GPU decode.
  // Sample k is 8 bytes of (i*31 + k*7) % 256, so the oracle states the
  // extracted count and the first/last frames' hex content analytically.
  private val q68 = Q(
    "q68_frame_sample",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val vids = s.range(48)
        .map(i => (i, Multimodal.encodeTestVideoSamples(i)))
        .toDF("id", "payload")
      Multimodal.withSampledFrames(vids, "payload", stride = 2)
        .select(col("id"),
          size(col("frames")).cast(LongType).as("n_frames"),
          aggregate(col("frames"), lit(0L),
            (acc, f) => acc + length(f)).as("total_len"),
          hex(element_at(col("frames"), 1)).as("first_hex"),
          hex(element_at(col("frames"), -1)).as("last_hex"))
        .orderBy(col("id").asc)
    },
    Some("""WITH t AS (
        SELECT i, 5 + i % 4 AS n,
          (5 + i % 4 + 1) // 2 AS nf
        FROM range(48) t(i))
      SELECT i AS id,
        CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(nf AS BIGINT) END
          AS n_frames,
        CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(nf * 8 AS BIGINT) END
          AS total_len,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE repeat(printf('%02X', (i * 31) % 256), 8) END
          AS first_hex,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE repeat(printf('%02X',
               (i * 31 + (nf - 1) * 2 * 7) % 256), 8) END AS last_hex
      FROM t ORDER BY id ASC"""))

  // Time-based frame sampling over the co64/stts generator: timescale
  // 1000, sample k starts at min(k,3)*100 + max(k-3,0)*250 ms, so a
  // 500 ms stride picks samples {0,4} for n∈{5,6} and {0,4,6} for
  // n∈{7,8} — the oracle states the picked count and first/last frame
  // bytes analytically, exactly like q68 does for index stride.
  private val q71 = Q(
    "q71_frame_sample_time",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val vids = s.range(48)
        .map(i => (i, Multimodal.encodeTestVideoSamplesTimed(i)))
        .toDF("id", "payload")
      Multimodal.withTimeSampledFrames(vids, "payload", everyMs = 500L)
        .select(col("id"),
          size(col("frames")).cast(LongType).as("n_frames"),
          aggregate(col("frames"), lit(0L),
            (acc, f) => acc + length(f)).as("total_len"),
          hex(element_at(col("frames"), 1)).as("first_hex"),
          hex(element_at(col("frames"), -1)).as("last_hex"))
        .orderBy(col("id").asc)
    },
    Some("""WITH t AS (
        SELECT i, 5 + i % 4 AS n,
          CASE WHEN 5 + i % 4 >= 7 THEN 3 ELSE 2 END AS nf,
          CASE WHEN 5 + i % 4 >= 7 THEN 6 ELSE 4 END AS last_k
        FROM range(48) t(i))
      SELECT i AS id,
        CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(nf AS BIGINT) END
          AS n_frames,
        CASE WHEN i % 7 = 0 THEN NULL ELSE CAST(nf * 8 AS BIGINT) END
          AS total_len,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE repeat(printf('%02X', (i * 31) % 256), 8) END
          AS first_hex,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE repeat(printf('%02X',
               (i * 31 + last_k * 7) % 256), 8) END AS last_hex
      FROM t ORDER BY id ASC"""))

  // real pixel-level feature extraction: the RGB PNG subset of the
  // generated corpus (i%6==4: RGB type + png, lossless) decodes to
  // EXACTLY the pixels encodeTestImage wrote — value(x,y) =
  // (i*2654435761 + x*31 + y) & 0xffffff — so the oracle recomputes
  // per-channel sums from the formula over a pixel-grid cross join.
  private val q67 = Q(
    "q67_image_stats",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val imgs = s.range(64)
        .filter(col("id") % 6 === 4 && col("id") % 7 =!= 0)
        .map(i => (i, Multimodal.encodeTestImage(i)))
        .toDF("id", "payload")
      Multimodal.withChannelSums(imgs, "payload")
        .select(col("id"),
          col("stats.width").cast(LongType).as("width"),
          col("stats.height").cast(LongType).as("height"),
          col("stats.sum_r").as("sum_r"),
          col("stats.sum_g").as("sum_g"),
          col("stats.sum_b").as("sum_b"))
        .orderBy(col("id").asc)
    },
    Some("""WITH ids AS (
        SELECT i, 8 + i % 9 AS w, 5 + (i * 3) % 11 AS h
        FROM range(64) t(i) WHERE i % 6 = 4 AND i % 7 <> 0),
      px AS (
        SELECT i, w, h,
          (i * 2654435761 + xx.x * 31 + yy.y) % 16777216 AS v
        FROM ids,
          (SELECT unnest(generate_series(0, 16)) AS x) xx,
          (SELECT unnest(generate_series(0, 15)) AS y) yy
        WHERE xx.x < w AND yy.y < h)
      SELECT i AS id,
        CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
        CAST(SUM((v >> 16) & 255) AS BIGINT) AS sum_r,
        CAST(SUM((v >> 8) & 255) AS BIGINT) AS sum_g,
        CAST(SUM(v & 255) AS BIGINT) AS sum_b
      FROM px GROUP BY i, w, h ORDER BY id ASC"""))

  // sliding + session windows: absent in the reference (SURVEY §2.7
  // "available if extended") and essentially free on Spark — these two
  // close that row with oracle-checked semantics. Sliding: every flow
  // lands in windowDuration/slide = 4 aligned windows; the oracle
  // replays Spark's alignment (start = slide multiples) via a 0..3
  // cross join. Session: Spark's session_window merges CONTIGUOUS
  // ranges too (a gap of exactly the session gap still merges —
  // verified empirically: splitting on >= gap over-counted sessions
  // 9762 vs 9750), so the oracle's lag()-based islands split on
  // diff > gap; integer epoch seconds make it exact on both engines.
  private val q65 = Q(
    "q65_sliding_window",
    (s, dir) => {
      val flows = TestFlowView.load(s, dir)
      flows
        .groupBy(
          window(to_timestamp(col("ts_sec")), "60 seconds", "15 seconds")
            .as("w"),
          col("protocol").as("proto"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes")).as("octets"))
        .select(unix_timestamp(col("w.start")).as("w_start"),
          col("proto"), col("n"), col("octets"))
        .orderBy(col("w_start").asc, col("proto").asc)
    },
    Some(s"""WITH $F,
      e AS (
        SELECT (ts_sec // 15) * 15 - 45 + k.k * 15 AS w_start,
               protocol AS proto, in_bytes
        FROM flow, (SELECT unnest(generate_series(0, 3)) AS k) k)
      SELECT w_start, proto,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM e GROUP BY 1, 2
      ORDER BY w_start ASC, proto ASC"""))

  private val q66 = Q(
    "q66_session_window",
    (s, dir) => {
      val flows = TestFlowView.load(s, dir)
      flows
        .groupBy(
          session_window(to_timestamp(col("ts_sec")), "30 seconds")
            .as("w"),
          col("protocol").as("proto"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes")).as("octets"))
        .select(unix_timestamp(col("w.start")).as("s_start"),
          unix_timestamp(col("w.end")).as("s_end"),
          col("proto"), col("n"), col("octets"))
        .orderBy(col("proto").asc, col("s_start").asc)
    },
    Some(s"""WITH $F,
      o AS (
        SELECT protocol AS proto, ts_sec, in_bytes,
          CASE WHEN ts_sec - lag(ts_sec) OVER
                 (PARTITION BY protocol ORDER BY ts_sec ASC) > 30
               OR lag(ts_sec) OVER
                 (PARTITION BY protocol ORDER BY ts_sec ASC) IS NULL
               THEN 1 ELSE 0 END AS new_s
        FROM flow),
      g AS (
        SELECT proto, ts_sec, in_bytes,
          SUM(new_s) OVER (PARTITION BY proto ORDER BY ts_sec ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM o)
      SELECT CAST(MIN(ts_sec) AS BIGINT) AS s_start,
        CAST(MAX(ts_sec) + 30 AS BIGINT) AS s_end,
        proto,
        CAST(COUNT(*) AS BIGINT) AS n,
        CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM g GROUP BY proto, sid
      ORDER BY proto ASC, s_start ASC"""))

  // real image RESIZE round-trip: generated PNGs/JPEGs scaled into an
  // 8×8 aspect-fit box through the in-JDK AWT pipeline, re-encoded PNG,
  // then the RESIZED payload is decoded back — the oracle states the
  // expected output dims from the pure-integer fit formula. Corrupt
  // inputs yield a NULL resized payload (ok=false downstream).
  private val q64 = Q(
    "q64_image_resize",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val imgs = s.range(64)
        .map(i => (i, Multimodal.encodeTestImage(i)))
        .toDF("id", "payload")
      val resized = Multimodal.withResizedImage(imgs, "payload", 8)
      Multimodal.withImageMeta(resized, "resized")
        .select(col("id"),
          col("meta.format").as("format"),
          col("meta.width").cast(LongType).as("width"),
          col("meta.height").cast(LongType).as("height"),
          col("meta.channels").cast(LongType).as("channels"),
          col("meta.ok").as("ok"))
        .orderBy(col("id").asc)
    },
    Some("""WITH dims AS (
        SELECT i,
          CAST(8 + i % 9 AS BIGINT) AS w0,
          CAST(5 + (i * 3) % 11 AS BIGINT) AS h0
        FROM range(64) t(i))
      SELECT i AS id,
        CASE WHEN i % 7 = 0 THEN NULL ELSE 'png' END AS format,
        CASE WHEN i % 7 = 0 THEN NULL
             WHEN w0 <= 8 AND h0 <= 8 THEN w0
             WHEN w0 >= h0 THEN 8
             ELSE greatest(1, (w0 * 8) // h0) END AS width,
        CASE WHEN i % 7 = 0 THEN NULL
             WHEN w0 <= 8 AND h0 <= 8 THEN h0
             WHEN w0 >= h0 THEN greatest(1, (h0 * 8) // w0)
             ELSE 8 END AS height,
        CASE WHEN i % 7 = 0 THEN NULL
             WHEN i % 3 = 2 THEN CAST(4 AS BIGINT)
             ELSE CAST(3 AS BIGINT) END AS channels,
        (i % 7 <> 0) AS ok
      FROM dims ORDER BY id ASC"""))

  // real ISO-BMFF (MP4) container metadata: hand-assembled ftyp/moov/
  // mvhd/tkhd boxes with analytic parameters, parsed header-only (the
  // box structure is public spec — no codec involved); every 7th row
  // corrupt. Completes the multimodal trio: image (q59), audio (q60),
  // video container (q63); frame extraction stays stubbed (needs a
  // codec this container doesn't ship).
  private val q63 = Q(
    "q63_video_meta",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val vids = s.range(48)
        .map(i => (i, Multimodal.encodeTestVideo(i)))
        .toDF("id", "payload")
      Multimodal.withVideoMeta(vids, "payload")
        .select(col("id"),
          col("meta.format").as("format"),
          col("meta.duration_ms").as("duration_ms"),
          col("meta.width").cast(LongType).as("width"),
          col("meta.height").cast(LongType).as("height"),
          col("meta.n_tracks").cast(LongType).as("n_tracks"),
          col("meta.ok").as("ok"))
        .orderBy(col("id").asc)
    },
    Some("""SELECT i AS id,
        CASE WHEN i % 7 = 0 THEN NULL ELSE 'isom' END AS format,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(1000 + i * 100 AS BIGINT) END AS duration_ms,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(320 + (i % 4) * 160 AS BIGINT) END AS width,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(240 + (i % 4) * 120 AS BIGINT) END AS height,
        CASE WHEN i % 7 = 0 THEN NULL
             ELSE CAST(1 + i % 2 AS BIGINT) END AS n_tracks,
        (i % 7 <> 0) AS ok
      FROM range(48) t(i) ORDER BY id ASC"""))

  // PII redaction over documents with synthesized PII (the corpus text
  // is clean, so deterministic emails/IPs/phones are appended in-query —
  // identically in both engines — then scrubbed and audited).
  private val q61 = Q(
    "q61_pii_redact",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val pii = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com or 10."),
        col("doc_id") % 256, lit(".0.1 tel +1 (555) 123-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
      t(s, dir, "documents")
        .select(col("doc_id"),
          TextAnalysis.redact(pii).as("clean"),
          TextAnalysis.redactionCount(pii).as("n_pii"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH p AS (
        SELECT doc_id,
          text || ' contact user' || doc_id || '@example.com or 10.' ||
            (doc_id % 256) || '.0.1 tel +1 (555) 123-' ||
            lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        FROM documents)
      SELECT doc_id,
        regexp_replace(regexp_replace(regexp_replace(t,
          '${OracleSql.piiEmail}', '<EMAIL>', 'g'),
          '${OracleSql.piiIp}', '<IP>', 'g'),
          '${OracleSql.piiPhone}', '<PHONE>', 'g') AS clean,
        CAST(len(regexp_extract_all(t, '${OracleSql.piiEmail}'))
           + len(regexp_extract_all(t, '${OracleSql.piiIp}'))
           + len(regexp_extract_all(t, '${OracleSql.piiPhone}'))
          AS BIGINT) AS n_pii
      FROM p ORDER BY doc_id ASC"""))

  // paragraph-level exact dedup (Dolma-style hygiene pass): documents
  // are chunked into 10-token pseudo-paragraphs (the corpus has no
  // newlines), then every paragraph occurs once corpus-wide — first
  // (doc_id, pos) wins — and the cleaned text is rebuilt.
  private val q62 = Q(
    "q62_para_dedup",
    (s, dir) => {
      import graft.operators.{Dedup, TextAnalysis}
      val toks = TextAnalysis.tokens(col("text"))
      val paraText = concat_ws("\n",
        transform(sequence(lit(0), (ceil(size(toks) / 10.0) - 1)
            .cast("int")),
          j => concat_ws(" ", slice(toks, j * 10 + 1, lit(10)))))
      val chunked = t(s, dir, "documents")
        .select(col("doc_id"), paraText.as("ptext"))
      Dedup.paragraphDedup(chunked, "doc_id", "ptext", "\n")
        .orderBy(col("doc_id").asc)
    },
    Some("""WITH base AS (
        SELECT doc_id,
          list_filter(string_split(text, ' '), w -> w <> '') AS toks
        FROM documents),
      p AS (
        SELECT doc_id,
          list_transform(generate_series(0,
              CAST(ceil(len(toks) / 10.0) AS INT) - 1),
            j -> array_to_string(toks[j*10+1 : j*10+10], ' ')) AS paras
        FROM base),
      e AS (
        SELECT doc_id, pos, paras[pos] AS para
        FROM (SELECT doc_id, paras,
                unnest(generate_series(1, len(paras))) AS pos
              FROM p)
        WHERE trim(paras[pos]) <> ''),
      r AS (
        SELECT doc_id, pos, para,
          row_number() OVER (PARTITION BY md5(para), para
            ORDER BY doc_id ASC, pos ASC) AS rn
        FROM e),
      agg AS (
        SELECT doc_id,
          CAST(COUNT(*) AS BIGINT) AS n_paras,
          CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_dup_paras,
          string_agg(CASE WHEN rn = 1 THEN para END, chr(10)
            ORDER BY pos ASC) AS clean_text
        FROM r GROUP BY doc_id)
      SELECT d.doc_id,
        coalesce(n_paras, 0) AS n_paras,
        coalesce(n_dup_paras, 0) AS n_dup_paras,
        coalesce(clean_text, '') AS clean_text
      FROM documents d LEFT JOIN agg USING (doc_id)
      ORDER BY doc_id ASC"""))

  // ----------------------------- device enrichment + skip-unmarked
  private val q32 = Q(
    "q32_devices",
    (s, dir) => {
      import graft.flow.Devices
      val env = FilterEnv.flow(s)
      val devices = Seq(
        Devices.Device(Some(100L), Some(0L), samplingRate = 10L,
          markRules = Seq("src ifidx 1 or 2"), skipUnmarked = true),
        Devices.Device(Some(101L), None, samplingRate = 1000L))
      Devices.enrich(TestFlowView.load(s, dir), devices, env)
        .groupBy(col("sampling_rate"), col("dev_mark"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"))
        .orderBy(col("sampling_rate").asc, col("dev_mark").asc)
    },
    Some(s"""WITH $F,
      e AS (SELECT
        CAST(CASE WHEN dev_ip = 100 AND dev_id = 0 THEN 10
                  WHEN dev_ip = 101 THEN 1000 ELSE 1 END AS BIGINT)
          AS sampling_rate,
        CAST(CASE WHEN dev_ip = 100 AND dev_id = 0 THEN
                    (CASE WHEN input_snmp = 1 OR input_snmp = 2
                          THEN 1 ELSE 0 END)
                  WHEN dev_ip = 101 THEN 0 ELSE NULL END AS BIGINT)
          AS dev_mark,
        (dev_ip = 100 AND dev_id = 0
         AND NOT (input_snmp = 1 OR input_snmp = 2)) AS dropped,
        in_bytes
      FROM flow)
      SELECT sampling_rate, dev_mark, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM e WHERE NOT dropped
      GROUP BY sampling_rate, dev_mark
      ORDER BY sampling_rate ASC, dev_mark ASC NULLS FIRST"""))

  // ----------------------------------- mfreq (two-pass port frequency)
  private val q33 = Q(
    "q33_mfreq",
    (s, dir) => {
      import graft.operators.MfreqOp
      val flow = TestFlowView.load(s, dir)
      MfreqOp.withMfreq(flow, "l4_src_port", "l4_dst_port", "mport")
        .groupBy(col("mport"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("mport").asc)
    },
    Some(s"""WITH $F,
      u AS (SELECT l4_src_port AS p FROM flow
            UNION ALL SELECT l4_dst_port FROM flow),
      freq AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM u GROUP BY p),
      j AS (SELECT flow.*, f1.c AS c1, f2.c AS c2
            FROM flow JOIN freq f1 ON l4_src_port = f1.p
                      JOIN freq f2 ON l4_dst_port = f2.p),
      m AS (SELECT CASE WHEN c1 > c2 THEN l4_src_port
                        WHEN c2 > c1 THEN l4_dst_port
                        ELSE least(l4_src_port, l4_dst_port) END AS mport,
                   in_bytes, sampling_rate FROM j)
      SELECT mport, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
      FROM m GROUP BY mport ORDER BY mport ASC"""))

  // --------------------------- fwm with a scaled measure (bits = ×8)
  private val q34 = Q(
    "q34_fwm_bits",
    (s, dir) => {
      val env = FilterEnv.flow(s)
      Fwm.batch(TestFlowView.load(s, dir), env,
        Fwm.Conf("daily_bits", Seq("bits desc", "dst as"),
          timeSec = 86400),
        samplingRate = Some(col("sampling_rate")))
    },
    Some(s"""WITH $F,
      agg AS (
        SELECT ts_sec - (ts_sec % 86400) AS time, dst_as,
               CAST(SUM(in_bytes * 8 * sampling_rate) AS BIGINT) AS bits
        FROM flow GROUP BY 1, 2)
      SELECT time, dst_as, bits FROM agg
      ORDER BY time ASC, bits DESC, dst_as ASC"""))

  // --------------------------------- ANN (LSH-bucketed cosine top-k)
  private val q35 = Q(
    "q35_ann_topk",
    (s, dir) => {
      // oracle-checked: the md5-derived hyperplanes are deterministic and
      // engine-independent, so DuckDB reproduces bucket assignment AND
      // cosine bit-exactly; recall vs brute force is in ExtensionOpsSpec
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val query = emb.filter(col("vec_id") === 0)
      Similarity.annTopK(emb.filter(col("vec_id") =!= 0), "vec_id",
          "embedding", dim = 64, nBits = 4, query, "embedding", 20)
        .select(col("vec_id"), round(col("sim"), 6).as("sim_r"))
    },
    Some(s"""WITH q AS (SELECT embedding AS qv FROM embeddings
               WHERE vec_id = 0),
      qs AS (SELECT qv, ${OracleSql.lshSigSql("qv", 64, 4)} AS qsig FROM q),
      b AS (SELECT vec_id, embedding,
              ${OracleSql.lshSigSql("embedding", 64, 4)} AS sig
            FROM embeddings WHERE vec_id <> 0),
      s AS (SELECT vec_id,
        ${OracleSql.dotSql("embedding", "qv", 64)} /
        (sqrt(${OracleSql.dotSql("embedding", "embedding", 64)}) *
         sqrt(${OracleSql.dotSql("qv", "qv", 64)})) AS sim
      FROM b, qs WHERE b.sig = qs.qsig)
      SELECT vec_id, round(sim, 6) AS sim_r FROM s
      ORDER BY sim DESC NULLS LAST, vec_id ASC LIMIT 20"""))

  // ------------------------------------------- ANN over a query BATCH
  private val q42 = Q(
    "q42_ann_batch",
    (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      Similarity.annTopKBatch(emb.filter(col("vec_id") >= 5), "vec_id",
          "embedding", dim = 64, nBits = 4,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", 10)
        .select(col("q_id"), col("vec_id"), round(col("sim"), 6).as("sim_r"))
        .orderBy(col("q_id").asc, col("sim_r").desc, col("vec_id").asc)
    },
    Some(s"""WITH qs AS (SELECT vec_id AS q_id, embedding AS qv,
               ${OracleSql.lshSigSql("embedding", 64, 4)} AS qsig
             FROM embeddings WHERE vec_id < 5),
      b AS (SELECT vec_id, embedding,
              ${OracleSql.lshSigSql("embedding", 64, 4)} AS sig
            FROM embeddings WHERE vec_id >= 5),
      j AS (SELECT q_id, vec_id,
              ${OracleSql.dotSql("embedding", "qv", 64)} /
              (sqrt(${OracleSql.dotSql("embedding", "embedding", 64)}) *
               sqrt(${OracleSql.dotSql("qv", "qv", 64)})) AS sim
            FROM b JOIN qs ON b.sig = qs.qsig),
      r AS (SELECT *, row_number() OVER (PARTITION BY q_id
              ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn FROM j)
      SELECT q_id, vec_id, round(sim, 6) AS sim_r FROM r WHERE rn <= 10
      ORDER BY q_id ASC, sim_r DESC NULLS LAST, vec_id ASC"""))

  // --------------------------------------- IVF (inverted-file) top-k
  private val q43 = Q(
    "q43_ivf_topk",
    (s, dir) => {
      // centroids: the deterministic vec_id%100==0 subset (stand-in for
      // an offline k-means table — the operator takes ANY centroid df)
      import graft.operators.Similarity.{IvfF32, IvfLifecycle}
      val emb = t(s, dir, "embeddings")
      val lists = IvfLifecycle.assign(IvfF32,
        emb.filter(col("vec_id") =!= 1), "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding")
      IvfLifecycle.search(IvfF32, lists, emb.filter(col("vec_id") === 1),
          "embedding", nprobe = 2, k = 20)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim_r"))
    }, {
      def cos(a: String, b: String) =
        s"${OracleSql.dotSql(a, b, 64)} / " +
          s"(sqrt(${OracleSql.dotSql(a, a, 64)}) * " +
          s"sqrt(${OracleSql.dotSql(b, b, 64)}))"
      Some(s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
               FROM embeddings WHERE vec_id % 100 = 0),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
      asg AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cv")} DESC NULLS LAST,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c WHERE e.vec_id <> 1) WHERE rn = 1),
      probes AS (SELECT cid FROM (
        SELECT c.cid FROM cent c, q
        ORDER BY ${cos("qv", "c.cv")} DESC NULLS LAST, c.cid ASC
        LIMIT 2)),
      cand AS (SELECT a.vec_id, a.embedding FROM asg a
               JOIN probes p ON a.cid = p.cid),
      sc AS (SELECT vec_id, ${cos("embedding", "qv")} AS sim
             FROM cand, q)
      SELECT vec_id, round(sim, 6) AS sim_r FROM sc
      ORDER BY sim DESC NULLS LAST, vec_id ASC LIMIT 20""")
    })

  // ------------------------------- embedding near-duplicate pairs
  private val q44 = Q(
    "q44_embed_neardup",
    (s, dir) => {
      import graft.operators.Similarity
      Similarity.nearDupPairs(t(s, dir, "embeddings"), "vec_id",
          "embedding", dim = 64, nBits = 4, minSim = 0.3)
        .select(col("a"), col("b"), round(col("sim"), 6).as("sim_r"))
        .orderBy(col("a").asc, col("b").asc)
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding,
               ${OracleSql.lshSigSql("embedding", 64, 4)} AS sig
             FROM embeddings),
      p AS (SELECT l.vec_id AS a, r.vec_id AS b,
              ${OracleSql.dotSql("l.embedding", "r.embedding", 64)} /
              (sqrt(${OracleSql.dotSql("l.embedding", "l.embedding", 64)}) *
               sqrt(${OracleSql.dotSql("r.embedding", "r.embedding", 64)}))
                AS sim
            FROM b l JOIN b r ON l.sig = r.sig AND l.vec_id < r.vec_id)
      SELECT a, b, round(sim, 6) AS sim_r FROM p WHERE sim >= 0.3
      ORDER BY a ASC, b ASC"""))

  // ------------------------- duplicate clusters (connected components)
  private val q45 = Q(
    "q45_dup_clusters",
    (s, dir) => {
      import graft.operators.{ConnectedComponents, Dedup}
      val pairs = Dedup.minhashCandidates(t(s, dir, "documents"),
        "doc_id", "text", shingleK = 3, numHashes = 16, bands = 4)
      ConnectedComponents.run(pairs, "a", "b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH RECURSIVE ${OracleSql.dupClusterCtes}
      SELECT id AS doc_id, component FROM cc ORDER BY doc_id ASC"""))

  // ------------------------------ dedup resolution (corpus survivors)
  private val q46 = Q(
    "q46_dedup_resolve",
    (s, dir) => {
      import graft.operators.{ConnectedComponents, Dedup}
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4)
      ConnectedComponents.resolve(docs, "doc_id", pairs, "a", "b")
        .select(col("doc_id"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH RECURSIVE ${OracleSql.dupClusterCtes}
      SELECT doc_id FROM documents
      WHERE doc_id NOT IN (SELECT id FROM cc WHERE component <> id)
      ORDER BY doc_id ASC"""))

  // ---------------- full dedup pipeline: candidates → verify → clusters
  private val q47 = Q(
    "q47_dedup_pipeline",
    (s, dir) => {
      // the production composition at 100 TB: LSH candidates (near-linear)
      // → exact-Jaccard verification restricted to candidates (two hash
      // joins, no quadratic self-join) → cluster resolution (O(log n)
      // star-contraction rounds)
      import graft.operators.{ConnectedComponents, Dedup}
      val docs = t(s, dir, "documents")
      val pairs = Dedup.minhashCandidates(docs, "doc_id", "text",
        shingleK = 3, numHashes = 16, bands = 4)
      val verified = Dedup.jaccardVerify(pairs, docs, "doc_id", "text",
        n = 3, minBp = 9500L)
      ConnectedComponents.run(verified, "a", "b")
        .select(col("id").as("doc_id"), col("component"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH RECURSIVE ${OracleSql.minhashPairsCtes},
      ${OracleSql.jaccardVerifyCtes(3, 9500L)},
      ${OracleSql.closureCtes("verified")}
      SELECT id AS doc_id, component FROM cc ORDER BY doc_id ASC"""))

  // -------------------------- deterministic train/val/test assignment
  private val q48 = Q(
    "q48_split_assign",
    (s, dir) => {
      import graft.operators.Curation
      Curation.deterministicSplit(t(s, dir, "documents"), "doc_id",
          Seq("train" -> 90, "val" -> 5, "test" -> 5))
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id").asc)
    },
    Some("""SELECT doc_id,
        CASE WHEN bucket < 90 THEN 'train'
             WHEN bucket < 95 THEN 'val'
             ELSE 'test' END AS split
      FROM (SELECT doc_id,
              CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                   AS BIGINT) % 100 AS bucket
            FROM documents)
      ORDER BY doc_id ASC"""))

  // ------------------------------- greedy sequence packing per group
  private val q49 = Q(
    "q49_token_pack",
    (s, dir) => {
      import graft.operators.{Curation, TextAnalysis}
      Curation.packSequences(t(s, dir, "documents"), "doc_id",
          TextAnalysis.tokenCount(col("text")), budget = 2048L,
          groupCols = Seq("lang"))
        .select(col("doc_id"), col("lang"), col("toks"), col("bin"))
        .orderBy(col("doc_id").asc)
    },
    Some("""WITH tk AS (SELECT doc_id, lang,
        CAST(len(list_filter(string_split(text, ' '), w -> w <> ''))
             AS BIGINT) AS toks
      FROM documents),
      c AS (SELECT doc_id, lang, toks,
              SUM(toks) OVER (PARTITION BY lang ORDER BY doc_id ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
            FROM tk)
      SELECT doc_id, lang, toks,
        CAST((cum - toks) // 2048 AS BIGINT) AS bin
      FROM c ORDER BY doc_id ASC"""))

  // ------------------------------------ int8 embedding quantization
  private val q50 = Q(
    "q50_embed_quantize",
    (s, dir) => {
      import graft.operators.Similarity
      Similarity.quantizeInt8(
          t(s, dir, "embeddings").filter(col("vec_id") < 100),
          "vec_id", "embedding")
        .orderBy(col("vec_id").asc, col("pos").asc)
    },
    Some(s"""WITH n AS (SELECT vec_id, embedding,
               sqrt(${OracleSql.dotSql("embedding", "embedding", 64)})
                 AS nrm
             FROM embeddings WHERE vec_id < 100)
      SELECT vec_id, i AS pos,
        CASE WHEN nrm <> 0 THEN
          CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127 / nrm + 0.5)
               AS BIGINT) END AS q
      FROM n, (SELECT unnest(range(1, 65)) AS i)
      ORDER BY vec_id ASC, pos ASC"""))

  // ===================== binary ingest decoders. DuckDB cannot decode
  // NetFlow wire formats, but the v9Packets generator is analytic —
  // packet i carries exactly one record with protocol 6/17 (even/odd i),
  // in_bytes = 100+i, src = 10.0.0.(i%16), ts = 1700000000+i — so the
  // oracle REBUILDS the decoded flow table from range(64) and recomputes
  // the aggregation independently. Byte-level decode correctness is
  // covered by DecoderSpec goldens; this closes the driver's hash gate.

  /** Scratch base for the self-generating harness fixtures (spools,
    * streaming checkpoints, CSV staging): the fastest writable local
    * volume — tmpfs (/dev/shm) when present with room, else
    * java.io.tmpdir.
    * Guide §6: a streaming micro-batch pays offset-log + commit-log +
    * state-checkpoint WRITES per batch; on a disk-backed /tmp those
    * fsync-ish constants were the dominant residual of the streaming
    * oracles (q109: 18 batches × 2 phases; q113: one commit per 100 ms
    * trigger). Everything written here is per-run scratch deleted at
    * JVM exit — a deployment's checkpoints live on reliable storage
    * sized for recovery, not in this harness path. The fixtures are KB
    * to low-MB at bench scale; SPARK_GRAFT_SCRATCH overrides (point it
    * at a disk path for fixture sets that must not consume RAM). */
  private lazy val scratchBase: String = {
    val shm = new java.io.File("/dev/shm")
    scratchBaseFor(sys.env.get("SPARK_GRAFT_SCRATCH"),
      if (shm.isDirectory && shm.canWrite) shm.getUsableSpace else 0L)
  }

  /** Least usable /dev/shm space for it to be preferred: containers
    * often cap it at 64 MiB, which the streaming fixtures can fill. */
  private[graft] val MinShmBytes: Long = 256L << 20

  /** [[scratchBase]] for a given override and usable /dev/shm bytes: an
    * override is created if missing and must then be a writable
    * directory — a bad path fails here, naming it, instead of silently
    * landing fixtures in RAM. Without one, /dev/shm is used only when
    * it has at least [[MinShmBytes]] free, else java.io.tmpdir. */
  private[graft] def scratchBaseFor(scratch: Option[String],
                                    shmUsableBytes: Long): String =
    scratch match {
      case Some(p) =>
        val f = new java.io.File(p)
        f.mkdirs()
        require(f.isDirectory && f.canWrite,
          s"SPARK_GRAFT_SCRATCH=$p is not a writable directory")
        p
      case None =>
        if (shmUsableBytes >= MinShmBytes) "/dev/shm"
        else sys.props("java.io.tmpdir")
    }

  /** Per-process scratch dir under [[scratchBase]], recursively deleted
    * at JVM exit (File.deleteOnExit cannot remove non-empty directories
    * — without this, every driver process would leak one fixture dir per
    * self-generating query). Hook registered once per dir. */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def tmpWorkDir(name: String): java.io.File = {
    val d = new java.io.File(scratchBase, name)
    d.mkdirs()
    if (cleanupRegistered.add(d.getAbsolutePath))
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def del(f: java.io.File): Unit = {
          // NEVER recurse through a symlink: File.listFiles follows
          // directory links, so a spool symlinked at a source table
          // would delete the TARGET's files (this once wiped a sf1.0
          // replica set, SCALE.md "r9: sf1.0 scale-slope sweep").
          // Deleting the link itself is enough.
          if (!java.nio.file.Files.isSymbolicLink(f.toPath))
            Option(f.listFiles()).foreach(_.foreach(del))
          f.delete(); ()
        }
        del(d)
      }))
    d
  }

  // shared big-endian byte writers for the analytic packet generators
  private def u16(v: Int): Array[Byte] =
    Array[Byte](((v >> 8) & 0xff).toByte, (v & 0xff).toByte)
  private def u32(v: Long): Array[Byte] =
    Array[Byte](((v >> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
      ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** Deterministic NetFlow v9 packets: template + data flowsets built
    * from integers (no external fixtures). */
  private[graft] def v9Packets(n: Int): Seq[Array[Byte]] = {
    (0 until n).map { i =>
      val header = u16(9) ++ u16(2) ++ u32(0) ++ u32(1700000000L + i) ++
        u32(i) ++ u32(1)
      val tmpl = u16(0) ++ u16(20) ++ u16(256) ++ u16(3) ++
        u16(1) ++ u16(4) ++ u16(4) ++ u16(1) ++ u16(8) ++ u16(4)
      val rec = u32(100L + i) ++
        Array[Byte]((if (i % 2 == 0) 6 else 17).toByte) ++
        u32(0x0a000000L + i % 16)
      val data = u16(256) ++ u16(4 + rec.length) ++ rec
      header ++ tmpl ++ data
    }
  }

  private val q40 = Q(
    "q40_decode_netflow_v9",
    (s, dir) => {
      import graft.sources.NetflowDecoder
      import s.implicits._
      val packets = v9Packets(64).zipWithIndex
        .map { case (p, i) => (p, 1700000000L + i, 1L) }
      val df = s.createDataset(packets).toDF("payload", "ts_sec", "src_ip")
      NetflowDecoder.decode(df)
        .groupBy(col("protocol"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"))
        .orderBy(col("protocol").asc)
    },
    Some("""WITH flows AS (
        SELECT CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               100 + i AS in_bytes
        FROM range(64) t(i))
      SELECT CAST(protocol AS BIGINT) AS protocol,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM flows GROUP BY protocol ORDER BY protocol ASC"""))

  private val q41 = Q(
    "q41_decode_pipeline",
    (s, dir) => {
      // decoded packets → filter DSL → fwm: the reference's full hot path
      // (netflow_process → filter_match → fwm update, SURVEY.md §3.2)
      import graft.sources.NetflowDecoder
      import s.implicits._
      val packets = v9Packets(64).zipWithIndex
        .map { case (p, i) => (p, 1700000000L + i, 1L) }
      val df = s.createDataset(packets).toDF("payload", "ts_sec", "src_ip")
      val flows = NetflowDecoder.decode(df)
      val env = FilterEnv.flow(s)
      val pred = Compiler.filterColumn("proto 6 and src net 10.0.0.0/24",
        env).fold(e => sys.error(e), identity)
      Fwm.batch(flows.filter(pred), env,
        Fwm.Conf("decoded", Seq("octets desc", "src host"), timeSec = 30),
        tsCol = col("ts_sec"))
    },
    Some("""WITH flows AS (
        SELECT 1700000000 + i AS ts_sec,
               CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               100 + i AS in_bytes,
               167772160 + (i % 16) AS src_host
        FROM range(64) t(i)),
      f AS (SELECT * FROM flows WHERE protocol = 6),
      agg AS (
        SELECT ts_sec - (ts_sec % 30) AS time, src_host,
               CAST(SUM(in_bytes * 1 * 1) AS BIGINT) AS octets
        FROM f GROUP BY 1, 2)
      SELECT CAST(time AS BIGINT) AS time,
             CAST(src_host AS BIGINT) AS src_host, octets
      FROM agg
      ORDER BY time ASC, (src_host IS NULL) ASC,
               octets DESC NULLS LAST, src_host ASC NULLS FIRST"""))

  /** Deterministic NetFlow v5 packets, analytic in `i` (mirrors the
    * v9Packets recipe; fixed 24-byte header + 48-byte records per the
    * public v5 spec, reference netflow.c:680-786). Each packet carries
    * TWO records (global index k = 2i+j) and a header
    * sampling_interval with the 2-bit mode set (mode 1 | value
    * 10*(1+i%4)) — the decode must mask the mode off and apply the
    * value to both records of the packet. */
  private[graft] def v5Packets(n: Int): Seq[Array[Byte]] = {
    (0 until n).map { i =>
      val sampling = (1 << 14) | (10 * (1 + i % 4))
      val header = u16(5) ++ u16(2) ++ u32(0) ++ u32(1700000000L + i) ++
        u32(0) ++ u32(i.toLong) ++ Array[Byte](0, 0) ++ u16(sampling)
      val recs = (0 until 2).flatMap { j =>
        val k = 2 * i + j
        u32(0x0a000000L + k % 16) ++ // srcaddr
          u32(0x0a000100L + k % 8) ++ // dstaddr
          u32(0) ++ // nexthop
          u16(10 + k % 3) ++ u16(20 + k % 3) ++ // input/output
          u32(1L + k % 5) ++ // dPkts
          u32(1000L + 13 * k) ++ // dOctets
          u32(0) ++ u32(0) ++ // first/last uptime
          u16(1024 + k) ++ u16(if (k % 2 == 0) 443 else 53) ++
          Array[Byte](0, 0x18) ++ // pad, tcp_flags
          Array[Byte](if (k % 2 == 0) 6 else 17, 0) ++ // prot, tos
          u16(100 + k % 4) ++ u16(200 + k % 4) ++ // src_as/dst_as
          Array[Byte](24, 24) ++ u16(0) // masks, pad
      }.toArray
      header ++ recs
    }
  }

  private val q75 = Q(
    "q75_decode_netflow_v5",
    (s, dir) => {
      import graft.sources.NetflowDecoder
      import s.implicits._
      val packets = v5Packets(64).zipWithIndex
        .map { case (p, i) => (p, 1700000000L + i, 1L) }
      val df = s.createDataset(packets).toDF("payload", "ts_sec", "src_ip")
      NetflowDecoder.decode(df)
        .groupBy(col("protocol"), col("ip4_src_addr").as("src_host"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("est_octets"),
          sum(col("in_pkts")).as("pkts"),
          sum(col("src_as")).as("as_sum"))
        .orderBy(col("protocol").asc, col("src_host").asc)
    },
    Some("""WITH flows AS (
        SELECT CASE WHEN k % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               167772160 + (k % 16) AS src_host,
               1000 + 13 * k AS in_bytes,
               1 + (k % 5) AS in_pkts,
               100 + (k % 4) AS src_as,
               10 * (1 + ((k // 2) % 4)) AS rate
        FROM range(128) t(k))
      SELECT CAST(protocol AS BIGINT) AS protocol,
             CAST(src_host AS BIGINT) AS src_host,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * rate) AS BIGINT) AS est_octets,
             CAST(SUM(in_pkts) AS BIGINT) AS pkts,
             CAST(SUM(src_as) AS BIGINT) AS as_sum
      FROM flows GROUP BY protocol, src_host
      ORDER BY protocol ASC, src_host ASC"""))

  /** Deterministic sFlow v5 datagrams, analytic in `i` (mirrors the
    * v9Packets recipe): one flow sample each — PLAIN (type 1) for even
    * i, EXPANDED (type 3) for odd — carrying a raw Ethernet frame
    * (802.1Q tag when i%3==0, IPv4, TCP/UDP by (i/2)%2) so the
    * DuckDB oracle can rebuild the decoded flow table from range(n):
    *   sampling_rate = 100*(1 + i%4), frame_len = 500 + 10*i,
    *   src = 10.0.1.(i%8), proto/dst_port = (6,443)|(17,53),
    *   vlan = 100 + i%10 when tagged. */
  private[graft] def sflowPackets(n: Int): Seq[Array[Byte]] = {
    (0 until n).map { i =>
      val tcp = (i / 2) % 2 == 0
      val rate = 100L * (1 + i % 4)
      val frameLen = 500L + 10 * i
      val l4 =
        if (tcp) // 20-byte TCP header: flags byte 13 = 0x18 (PSH|ACK)
          u16(1024 + i) ++ u16(443) ++ u32(0) ++ u32(0) ++
            Array[Byte](0x50, 0x18) ++ u16(0xffff) ++ u16(0) ++ u16(0)
        else u16(1024 + i) ++ u16(53) ++ u16(8) ++ u16(0)
      val ip = Array[Byte](0x45, (i % 4).toByte) ++ u16(20 + l4.length) ++
        u16(7000 + i) ++ u16(0) ++
        Array[Byte](64, if (tcp) 6 else 17) ++ u16(0) ++
        u32(0x0a000100L + i % 8) ++ u32(0x0a000200L + i % 16)
      val vlanTag =
        if (i % 3 == 0) u16(0x8100) ++ u16(100 + i % 10)
        else Array.empty[Byte]
      val eth = Array[Byte](2, 0, 0, 0, 0, (i % 5).toByte,
          2, 0, 0, 0, 1, (i % 7).toByte) ++
        vlanTag ++ u16(0x0800) ++ ip ++ l4
      val pad = new Array[Byte]((4 - eth.length % 4) % 4)
      // raw-packet-header record: proto 1 = Ethernet
      val rec = u32(1) ++ u32(16L + eth.length + pad.length) ++
        u32(1) ++ u32(frameLen) ++ u32(4) ++ u32(eth.length.toLong) ++
        eth ++ pad
      val body =
        if (i % 2 == 0) // plain: packed source id, packed interfaces
          u32(i.toLong) ++ u32(5) ++ u32(rate) ++ u32(rate * (i + 1)) ++
            u32(0) ++ u32(10 + i % 3) ++ u32(20 + i % 3) ++ u32(1) ++ rec
        else // expanded: (type,index) source id, (format,value) ifaces
          u32(i.toLong) ++ u32(0) ++ u32(5) ++ u32(rate) ++
            u32(rate * (i + 1)) ++ u32(0) ++ u32(0) ++ u32(10 + i % 3) ++
            u32(0) ++ u32(20 + i % 3) ++ u32(1) ++ rec
      val sample = u32(if (i % 2 == 0) 1L else 3L) ++
        u32(body.length.toLong) ++ body
      // datagram header: v5, IPv4 agent, sub-agent, seq, uptime, count
      u32(5) ++ u32(1) ++ u32(0x7f000001L) ++ u32(0) ++ u32(i.toLong) ++
        u32(123450L + i) ++ u32(1) ++ sample
    }
  }

  private val q69 = Q(
    "q69_decode_sflow",
    (s, dir) => {
      import graft.sources.SflowDecoder
      import s.implicits._
      val packets = sflowPackets(64).zipWithIndex
        .map { case (p, i) => (p, 1700000000L + i) }
      val df = s.createDataset(packets).toDF("payload", "ts_sec")
      SflowDecoder.decode(df)
        .groupBy(col("protocol"), col("ip4_src_addr").as("src_host"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("est_octets"),
          sum(col("src_vlan")).as("vlan_sum"),
          sum(col("l4_dst_port")).as("port_sum"))
        .orderBy(col("protocol").asc, col("src_host").asc)
    },
    Some("""WITH flows AS (
        SELECT CASE WHEN (i // 2) % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               167772416 + (i % 8) AS src_host,
               500 + 10 * i AS in_bytes,
               100 * (1 + i % 4) AS sampling_rate,
               CASE WHEN i % 3 = 0 THEN 100 + (i % 10) END AS src_vlan,
               CASE WHEN (i // 2) % 2 = 0 THEN 443 ELSE 53 END AS dport
        FROM range(64) t(i))
      SELECT CAST(protocol AS BIGINT) AS protocol,
             CAST(src_host AS BIGINT) AS src_host,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS est_octets,
             CAST(SUM(src_vlan) AS BIGINT) AS vlan_sum,
             CAST(SUM(dport) AS BIGINT) AS port_sum
      FROM flows GROUP BY protocol, src_host
      ORDER BY protocol ASC, src_host ASC"""))

  /** Deterministic sFlow v5 datagrams whose sampled frames carry
    * application payloads, analytic in `i` (extends the sflowPackets
    * recipe to the reference's payload-parse path, sflow.c:96-112 +
    * xe-dns.h/xe-sni.h):
    *   even i — UDP src-port-53 DNS response: qname
    *     d(i%5).example.com, one A answer 10.9.0.(i%8), plus a second
    *     A 10.9.1.(i%8) when i%4==0 → dns_ips "{a}" / "{a, b}";
    *   odd i — TCP dst-port-443 TLS ClientHello with SNI
    *     s(i%7).example.org;
    *   sampling_rate = 100*(1+i%4), frame_len = 500+10*i (as q69). */
  private[graft] def sflowPayloadPackets(n: Int): Seq[Array[Byte]] = {
    (0 until n).map { i =>
      val dnsCase = i % 2 == 0
      val rate = 100L * (1 + i % 4)
      val frameLen = 500L + 10 * i
      val payload: Array[Byte] =
        if (dnsCase) {
          val qname = Seq(s"d${i % 5}", "example", "com").flatMap { l =>
            l.length.toByte +: l.getBytes(StandardCharsets.US_ASCII).toSeq
          }.toArray :+ 0.toByte
          val twoAns = i % 4 == 0
          def aRec(third: Int): Array[Byte] =
            u16(0xc00c) ++ u16(1) ++ u16(1) ++ u32(60L) ++ u16(4) ++
              Array[Byte](10, 9, third.toByte, (i % 8).toByte)
          u16(i) ++ u16(0x8180) ++ u16(1) ++ u16(if (twoAns) 2 else 1) ++
            u16(0) ++ u16(0) ++ qname ++ u16(1) ++ u16(1) ++
            aRec(0) ++ (if (twoAns) aRec(1) else Array.empty[Byte])
        } else {
          val hb = s"s${i % 7}.example.org"
            .getBytes(StandardCharsets.US_ASCII)
          val sniExt = u16(0) ++ u16(hb.length + 5) ++
            u16(hb.length + 3) ++ Array[Byte](0) ++ u16(hb.length) ++ hb
          val chBody = u16(0x0303) ++ new Array[Byte](32) ++
            Array[Byte](0) ++ u16(2) ++ u16(0x1301) ++
            Array[Byte](1, 0) ++ u16(sniExt.length) ++ sniExt
          val hs = Array[Byte](1, 0) ++ u16(chBody.length) ++ chBody
          Array[Byte](22, 3, 1) ++ u16(hs.length) ++ hs
        }
      val l4 =
        if (dnsCase)
          u16(53) ++ u16(1024 + i) ++ u16(8 + payload.length) ++ u16(0) ++
            payload
        else
          u16(1024 + i) ++ u16(443) ++ u32(0) ++ u32(0) ++
            Array[Byte](0x50, 0x18) ++ u16(0xffff) ++ u16(0) ++ u16(0) ++
            payload
      val ip = Array[Byte](0x45, 0) ++ u16(20 + l4.length) ++
        u16(7000 + i) ++ u16(0) ++
        Array[Byte](64, if (dnsCase) 17 else 6) ++ u16(0) ++
        u32(0x0a000100L + i % 8) ++ u32(0x0a000200L + i % 16)
      val eth = Array[Byte](2, 0, 0, 0, 0, (i % 5).toByte,
          2, 0, 0, 0, 1, (i % 7).toByte) ++ u16(0x0800) ++ ip ++ l4
      val pad = new Array[Byte]((4 - eth.length % 4) % 4)
      val rec = u32(1) ++ u32(16L + eth.length + pad.length) ++
        u32(1) ++ u32(frameLen) ++ u32(4) ++ u32(eth.length.toLong) ++
        eth ++ pad
      val body = u32(i.toLong) ++ u32(5) ++ u32(rate) ++
        u32(rate * (i + 1)) ++ u32(0) ++ u32(10 + i % 3) ++
        u32(20 + i % 3) ++ u32(1) ++ rec
      val sample = u32(1L) ++ u32(body.length.toLong) ++ body
      u32(5) ++ u32(1) ++ u32(0x7f000001L) ++ u32(0) ++ u32(i.toLong) ++
        u32(123450L + i) ++ u32(1) ++ sample
    }
  }

  // Sampled payloads → DNS/SNI extraction → aggregate on the extracted
  // columns: the reference's payload-parse reporting recipe
  // (EXTRA.md:595-612) end-to-end under the formula oracle.
  private val q74 = Q(
    "q74_decode_dns_sni",
    (s, dir) => {
      import graft.sources.SflowDecoder
      import s.implicits._
      val packets = sflowPayloadPackets(64).zipWithIndex
        .map { case (p, i) => (p, 1700000000L + i) }
      val df = s.createDataset(packets).toDF("payload", "ts_sec")
      SflowDecoder.decode(df, parseDns = true, parseSni = true)
        .groupBy(col("dns_name"), col("dns_ips"), col("sni"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("est_octets"))
        .orderBy(col("dns_name").asc_nulls_first,
          col("dns_ips").asc_nulls_first, col("sni").asc_nulls_first)
    },
    Some("""WITH flows AS (
        SELECT CASE WHEN i % 2 = 0
                 THEN 'd' || CAST(i % 5 AS VARCHAR) || '.example.com' END
                 AS dns_name,
               CASE WHEN i % 2 = 0 THEN
                 CASE WHEN i % 4 = 0
                   THEN '{10.9.0.' || CAST(i % 8 AS VARCHAR) ||
                        ', 10.9.1.' || CAST(i % 8 AS VARCHAR) || '}'
                   ELSE '{10.9.0.' || CAST(i % 8 AS VARCHAR) || '}' END
               END AS dns_ips,
               CASE WHEN i % 2 = 1
                 THEN 's' || CAST(i % 7 AS VARCHAR) || '.example.org' END
                 AS sni,
               500 + 10 * i AS in_bytes,
               100 * (1 + i % 4) AS sampling_rate
        FROM range(64) t(i))
      SELECT dns_name, dns_ips, sni,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS est_octets
      FROM flows GROUP BY dns_name, dns_ips, sni
      ORDER BY dns_name ASC NULLS FIRST, dns_ips ASC NULLS FIRST,
               sni ASC NULLS FIRST"""))

  /** Deterministic IPFIX message stream, analytic in `i`, exercising
    * the three RFC 7011 features the spec-only tests covered (varlen,
    * enterprise fields, options-learned sampling):
    *   - packet 0: template 256 (octets, proto, src, VARLEN if_name,
    *     enterprise-scoped host field (PEN 9999, field 77)) + options
    *     template 257 (scope domain, samplingInterval 34);
    *   - packet 1 @t+1: options data → sampling 10;
    *   - packet 34 @t+34: options data → sampling 100 (mid-stream
    *     update: rows decode with the rate live at THEIR OWN ts via the
    *     epoch-floor store);
    *   - every other packet i: one data record, in_bytes = 1000+7i,
    *     proto 6/17, src 10.1.0.(i%8), if_name "eth"+(i%4) —
    *     SHORT varlen form for even i, 255-ESCAPED long form for odd —
    *     host "h"+(i%3) in the enterprise field (NUL-padded fixed 8). */
  private[graft] def ipfixPackets(n: Int): Seq[(Array[Byte], Long)] = {
    def msg(ts: Long, sets: Array[Byte]): Array[Byte] =
      u16(10) ++ u16(16 + sets.length) ++ u32(ts) ++ u32(0) ++ u32(1) ++ sets
    def set(id: Int, body: Array[Byte]): Array[Byte] =
      u16(id) ++ u16(4 + body.length) ++ body
    val t0 = 1700000000L
    (0 until n).map { i =>
      val ts = t0 + i
      val payload =
        if (i == 0) {
          val tmpl = set(2, u16(256) ++ u16(5) ++
            u16(1) ++ u16(4) ++ // octetDeltaCount → in_bytes
            u16(4) ++ u16(1) ++ // protocolIdentifier
            u16(8) ++ u16(4) ++ // sourceIPv4Address
            u16(82) ++ u16(65535) ++ // interfaceName, VARIABLE length
            u16(0x8000 | 77) ++ u16(8) ++ u32(9999)) // enterprise field
          val optTmpl = set(3, u16(257) ++ u16(2) ++ u16(1) ++
            u16(149) ++ u16(4) ++ // scope: observationDomainId
            u16(34) ++ u16(4)) // samplingInterval
          msg(ts, tmpl ++ optTmpl)
        } else if (i == 1 || i == 34) {
          val rate = if (i == 1) 10L else 100L
          msg(ts, set(257, u32(1) ++ u32(rate)))
        } else {
          val name = s"eth${i % 4}".getBytes(StandardCharsets.US_ASCII)
          val nameVar =
            if (i % 2 == 0) Array(name.length.toByte) ++ name
            else Array(255.toByte) ++ u16(name.length) ++ name
          val host = java.util.Arrays.copyOf(
            s"h${i % 3}".getBytes(StandardCharsets.US_ASCII), 8)
          msg(ts, set(256, u32(1000L + 7 * i) ++
            Array[Byte](if (i % 2 == 0) 6 else 17) ++
            u32(0x0a010000L + i % 8) ++ nameVar ++ host))
        }
      (payload, ts)
    }
  }

  private val q70 = Q(
    "q70_decode_ipfix",
    (s, dir) => {
      import graft.sources.NetflowDecoder
      import s.implicits._
      val df = s.createDataset(ipfixPackets(64).map { case (p, ts) =>
        (p, ts, 1L)
      }).toDF("payload", "ts_sec", "src_ip")
        // templates are partition-local state: route each exporter's
        // packets to a stable partition (the scale pattern documented
        // on decode()) so its templates are visible to its data
        .repartition(col("src_ip"))
      NetflowDecoder.decode(df,
          entMap = Map((9999L, 77) -> 2001)) // PEN 9999 host → vas_http_host
        .groupBy(col("protocol"), col("if_name"),
          col("vas_http_host").as("http_host"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("est_octets"))
        .orderBy(col("protocol").asc, col("if_name").asc,
          col("http_host").asc)
    },
    Some("""WITH flows AS (
        SELECT CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               1000 + 7 * i AS in_bytes,
               'eth' || CAST(i % 4 AS VARCHAR) AS if_name,
               'h' || CAST(i % 3 AS VARCHAR) AS http_host,
               CASE WHEN i < 34 THEN 10 ELSE 100 END AS rate
        FROM range(64) t(i) WHERE i >= 2 AND i <> 34)
      SELECT CAST(protocol AS BIGINT) AS protocol, if_name, http_host,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * rate) AS BIGINT) AS est_octets
      FROM flows GROUP BY protocol, if_name, http_host
      ORDER BY protocol ASC, if_name ASC, http_host ASC"""))

  // The batch capture-file ingest path end-to-end: v9 packets written
  // as 4 rotated pktdump files (the DSv2 source, one partition per
  // file), read back, decoded and aggregated; the oracle rebuilds the
  // decoded flow table from the v9Packets formula, like q40.
  private val q72 = Q(
    "q72_pktdump_ingest",
    (s, dir) => {
      import graft.sources.{NetflowDecoder, PktDump}
      // per-PROCESS dir: deterministic across this process's reruns
      // (Bench runs the query several times) but never shared with a
      // concurrent driver, whose overwrites would race our readers
      val dumpDir = tmpWorkDir(
        s"graft_q72_pktdump_${ProcessHandle.current().pid()}")
      v9Packets(64).zipWithIndex
        .map { case (p, i) => (p, 1700000000L + i, 1L + i % 4) }
        .grouped(16).zipWithIndex.foreach { case (group, f) =>
          PktDump.write(s"$dumpDir/part-$f.gpkd", group.toSeq)
        }
      NetflowDecoder.decode(
          s.read.format("pktdump").load(dumpDir.getAbsolutePath))
        .groupBy(col("protocol"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"))
        .orderBy(col("protocol").asc)
    },
    Some("""WITH flows AS (
        SELECT CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               100 + i AS in_bytes
        FROM range(64) t(i))
      SELECT CAST(protocol AS BIGINT) AS protocol,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM flows GROUP BY protocol ORDER BY protocol ASC"""))

  // ------------------------- repetition / boilerplate quality signals
  private val q51 = Q(
    "q51_repetition",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
      docs.select(col("doc_id"),
          TextAnalysis.dupTokenBp(col("text")).as("dup_tok_bp"))
        .join(TextAnalysis.repetitionMetrics(docs, "doc_id", "text", 2),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_grams"), col("top_gram_bp"),
          col("dup_gram_bp"), col("dup_tok_bp"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH g AS (SELECT doc_id,
        unnest(${OracleSql.shinglesSql("text", 2)}) AS g FROM documents),
      pg AS (SELECT doc_id, g, count(*) AS c FROM g GROUP BY 1, 2),
      per AS (SELECT doc_id, sum(c) AS n_grams, max(c) AS top_c,
        sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup_c
        FROM pg GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(per.n_grams, 0) AS BIGINT) AS n_grams,
        CAST(COALESCE(floor(10000 * per.top_c / per.n_grams), 0)
             AS BIGINT) AS top_gram_bp,
        CAST(COALESCE(floor(10000 * per.dup_c / per.n_grams), 0)
             AS BIGINT) AS dup_gram_bp,
        CAST(CASE WHEN len(string_split(d.text, ' ')) > 0 THEN
          floor(10000 * (len(string_split(d.text, ' '))
                         - len(list_distinct(string_split(d.text, ' '))))
                / len(string_split(d.text, ' ')))
          ELSE 0 END AS BIGINT) AS dup_tok_bp
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY doc_id ASC"""))

  // --------------------------------- benchmark-contamination check
  private val q52 = Q(
    "q52_contamination",
    (s, dir) => {
      import graft.operators.Contamination
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("source").isin("src0", "src1"))
      Contamination.ngramOverlap(docs, bench, "doc_id", "text", 3)
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH dg AS (SELECT DISTINCT doc_id, g FROM
        (SELECT doc_id, unnest(${OracleSql.shinglesSql("text", 3)}) AS g
         FROM documents)),
      bg AS (SELECT DISTINCT g FROM
        (SELECT unnest(${OracleSql.shinglesSql("text", 3)}) AS g
         FROM documents WHERE source IN ('src0', 'src1'))),
      per AS (SELECT doc_id, count(*) AS n_distinct_grams,
          sum(CASE WHEN g IN (SELECT g FROM bg) THEN 1 ELSE 0 END)
            AS n_contam
        FROM dg GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(per.n_distinct_grams, 0) AS BIGINT)
          AS n_distinct_grams,
        CAST(COALESCE(per.n_contam, 0) AS BIGINT) AS n_contam,
        CAST(COALESCE(floor(10000 * per.n_contam / per.n_distinct_grams),
                      0) AS BIGINT) AS contam_bp
      FROM documents d LEFT JOIN per USING (doc_id)
      ORDER BY doc_id ASC"""))

  // ------------------------------- source-pair vocabulary overlap
  private val q53 = Q(
    "q53_source_overlap",
    (s, dir) => {
      import graft.operators.Contamination
      Contamination.vocabOverlapMatrix(t(s, dir, "documents"), "source",
          "text", 3)
        .orderBy(col("grp_a").asc, col("grp_b").asc)
    },
    Some(s"""WITH sg AS (SELECT DISTINCT grp, g FROM
        (SELECT source AS grp,
           unnest(${OracleSql.shinglesSql("text", 3)}) AS g
         FROM documents)),
      sizes AS (SELECT grp, count(*) AS v FROM sg GROUP BY 1),
      inter AS (SELECT l.grp AS grp_a, r.grp AS grp_b,
          count(*) AS n_common
        FROM sg l JOIN sg r ON l.g = r.g AND l.grp < r.grp
        GROUP BY 1, 2)
      SELECT i.grp_a, i.grp_b, CAST(i.n_common AS BIGINT) AS n_common,
        CAST(floor(10000 * i.n_common / (a.v + b.v - i.n_common))
             AS BIGINT) AS jaccard_bp
      FROM inter i
      JOIN sizes a ON i.grp_a = a.grp
      JOIN sizes b ON i.grp_b = b.grp
      ORDER BY grp_a ASC, grp_b ASC"""))

  // ----------------------- SimHash near-dup pairs (banded Hamming LSH)
  private val q54 = Q(
    "q54_simhash_pairs",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
          bits = 16, maxDist = 2)
        .orderBy(col("a").asc, col("b").asc)
    },
    // brute-force all-pairs Hamming in DuckDB — the banded join has
    // perfect recall for dist ≤ maxDist (pigeonhole), so the outputs
    // are identical by construction
    Some(s"""WITH
      toks AS (SELECT doc_id,
                 unnest(list_filter(string_split(text, ' '),
                   w -> w <> '')) AS tok
               FROM documents),
      h AS (SELECT doc_id,
              CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h
            FROM toks),
      bitsums AS (SELECT doc_id, ${OracleSql.simhashBitSums("h", 16)}
                  FROM h GROUP BY doc_id),
      sig AS (SELECT doc_id, ${OracleSql.simhashAssemble(16)} AS simhash
              FROM bitsums)
      SELECT l.doc_id AS a, r.doc_id AS b,
        CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS dist
      FROM sig l JOIN sig r ON l.doc_id < r.doc_id
      WHERE bit_count(xor(l.simhash, r.simhash)) <= 2
      ORDER BY a ASC, b ASC"""))

  // ------------------------- keyword extraction (integer tf·idf rank)
  private val q55 = Q(
    "q55_keywords",
    (s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.keywords(t(s, dir, "documents"), "doc_id", "text",
          k = 3)
        .orderBy(col("doc_id").asc, col("rank").asc)
    },
    Some("""WITH toks AS (SELECT doc_id,
          unnest(list_filter(string_split(text, ' '), w -> w <> ''))
            AS tok
        FROM documents),
      tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
      scored AS (SELECT doc_id, tok, tf, df, (tf * 100000) // df AS score
        FROM tf JOIN dfreq USING (tok)),
      ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
          ORDER BY score DESC, tok ASC) AS rank
        FROM scored)
      SELECT doc_id, CAST(rank AS BIGINT) AS rank, tok,
        CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        CAST(score AS BIGINT) AS score
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id ASC, rank ASC"""))

  // --------------------------- deterministic source-mix downsampling
  private val q56 = Q(
    "q56_mix_sample",
    (s, dir) => {
      import graft.operators.Curation
      Curation.mixSample(t(s, dir, "documents"), "doc_id", "source",
          Map("src0" -> 2500L, "src1" -> 0L, "src2" -> 5000L))
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id").asc)
    },
    Some("""SELECT doc_id, source FROM documents
      WHERE (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 6)
               AS BIGINT) % 10000)
            < (CASE source WHEN 'src0' THEN 2500 WHEN 'src1' THEN 0
                 WHEN 'src2' THEN 5000 ELSE 10000 END)
      ORDER BY doc_id ASC"""))

  // ------------------ k-means training (integer-exact, oracle-replayed)
  private val q57 = Q(
    "q57_kmeans",
    (s, dir) => {
      import graft.operators.Similarity
      Similarity.kmeansQuantized(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 4, iters = 2)
        .orderBy(col("cid").asc, col("pos").asc)
    },
    Some(s"""WITH ${OracleSql.kmeansCtes(4, 2, 64, 1000000L)}
      SELECT cid, CAST(pos AS BIGINT) AS pos, cx FROM c2
      ORDER BY cid ASC, pos ASC"""))

  // -------------- end-to-end ANN pipeline: train -> index -> search
  private val q58 = Q(
    "q58_kmeans_ivf",
    (s, dir) => {
      // the production composition: kmeansCentroids trains the coarse
      // quantizer (integer-exact, q57), the IVF search probes its
      // in-flight inverted lists — one query, deterministic end to end
      import graft.operators.Similarity
      import Similarity.{IvfF32, IvfLifecycle}
      val emb = t(s, dir, "embeddings")
      val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding",
        k = 4, iters = 2)
      val lists = IvfLifecycle.assign(IvfF32,
        emb.filter(col("vec_id") =!= 1), "vec_id", "embedding",
        cents, "cid", "cv")
      IvfLifecycle.search(IvfF32, lists, emb.filter(col("vec_id") === 1),
          "embedding", nprobe = 2, k = 20)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim_r"))
    }, Some(kmeansIvfOracle))

  /** Shared DuckDB oracle for the kmeans→IVF composition — q58 runs it
    * in-flight, q73 through a persisted index; the results are defined
    * to be identical. */
  private lazy val kmeansIvfOracle: String = {
    def cos(a: String, b: String) =
      s"${OracleSql.dotSql(a, b, 64)} / " +
        s"(sqrt(${OracleSql.dotSql(a, a, 64)}) * " +
        s"sqrt(${OracleSql.dotSql(b, b, 64)}))"
    s"""WITH ${OracleSql.kmeansCtes(4, 2, 64, 1000000L)},
      cent AS (SELECT cid,
          list(CAST(cx AS DOUBLE) / 1000000 ORDER BY pos) AS cv
        FROM c2 GROUP BY cid),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
      asg AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cv")} DESC NULLS LAST,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c WHERE e.vec_id <> 1) WHERE rn = 1),
      probes AS (SELECT cid FROM (
        SELECT c.cid FROM cent c, q
        ORDER BY ${cos("qv", "c.cv")} DESC NULLS LAST, c.cid ASC
        LIMIT 2)),
      cand AS (SELECT a.vec_id, a.embedding FROM asg a
               JOIN probes p ON a.cid = p.cid),
      sc AS (SELECT vec_id, ${cos("embedding", "qv")} AS sim
             FROM cand, q)
      SELECT vec_id, round(sim, 6) AS sim_r FROM sc
      ORDER BY sim DESC NULLS LAST, vec_id ASC LIMIT 20"""
  }

  // The persisted-index variant of q58: train + assign + WRITE the
  // partitioned inverted lists, then search through the index reader
  // (probe-literal filter → parquet partition pruning). Same oracle —
  // the persisted path is defined to be bit-identical to in-flight.
  private val q73 = Q(
    "q73_ivf_index",
    (s, dir) => {
      import graft.operators.Similarity
      import Similarity.{IvfF32, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val idxDir = tmpWorkDir(
        s"graft_q73_ivf_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      // build once per process ("train once, search many" IS the
      // operator's contract): repeated runs — the bench's medians —
      // measure the search, which is what the index exists to make
      // cheap. Training is deterministic, so the first run's index is
      // the index every run would build.
      if (!new java.io.File(idxDir, "lists/_SUCCESS").exists()) {
        val cents = Similarity.kmeansCentroids(emb, "vec_id",
          "embedding", k = 4, iters = 2)
        IvfLifecycle.build(IvfF32, emb.filter(col("vec_id") =!= 1),
          "vec_id", "embedding", cents, "cid", "cv",
          idxDir.getAbsolutePath)
      }
      IvfLifecycle.search(IvfF32, OnDisk(idxDir.getAbsolutePath),
          emb.filter(col("vec_id") === 1), "embedding",
          nprobe = 2, k = 20)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim_r"))
    },
    Some(kmeansIvfOracle))

  // Batched persisted-IVF search: three query vectors through one
  // index read. Defined as a per-query loop of q73 — the oracle ranks
  // candidates per q_id over the same probe selection formula.
  private val q76 = Q(
    "q76_ivf_batch",
    (s, dir) => {
      import graft.operators.Similarity
      import Similarity.{IvfF32, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val qIds = Seq(1L, 2L, 3L)
      val idxDir = tmpWorkDir(
        s"graft_q76_ivfb_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      if (!new java.io.File(idxDir, "lists/_SUCCESS").exists()) {
        val cents = Similarity.kmeansCentroids(emb, "vec_id",
          "embedding", k = 4, iters = 2)
        IvfLifecycle.build(IvfF32,
          emb.filter(!col("vec_id").isin(qIds: _*)),
          "vec_id", "embedding", cents, "cid", "cv",
          idxDir.getAbsolutePath)
      }
      IvfLifecycle.searchBatch(IvfF32, OnDisk(idxDir.getAbsolutePath),
          emb.filter(col("vec_id").isin(qIds: _*)), "vec_id",
          "embedding", nprobe = 2, k = 10)
        .select(col("q_id"), col("id").as("vec_id"),
          round(col("sim"), 6).as("sim_r"))
        .orderBy(col("q_id").asc, col("sim_r").desc, col("vec_id").asc)
    },
    Some {
      def cos(a: String, b: String) =
        s"${OracleSql.dotSql(a, b, 64)} / " +
          s"(sqrt(${OracleSql.dotSql(a, a, 64)}) * " +
          s"sqrt(${OracleSql.dotSql(b, b, 64)}))"
      s"""WITH ${OracleSql.kmeansCtes(4, 2, 64, 1000000L)},
        cent AS (SELECT cid,
            list(CAST(cx AS DOUBLE) / 1000000 ORDER BY pos) AS cv
          FROM c2 GROUP BY cid),
        q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings
              WHERE vec_id IN (1, 2, 3)),
        asg AS (SELECT vec_id, embedding, cid FROM (
          SELECT e.vec_id, e.embedding, c.cid,
                 row_number() OVER (PARTITION BY e.vec_id
                   ORDER BY ${cos("e.embedding", "c.cv")} DESC NULLS LAST,
                            c.cid ASC) AS rn
          FROM embeddings e, cent c WHERE e.vec_id NOT IN (1, 2, 3))
          WHERE rn = 1),
        probes AS (SELECT q_id, cid FROM (
          SELECT q.q_id, c.cid,
                 row_number() OVER (PARTITION BY q.q_id
                   ORDER BY ${cos("q.qv", "c.cv")} DESC NULLS LAST,
                            c.cid ASC) AS rn
          FROM cent c, q) WHERE rn <= 2),
        cand AS (SELECT p.q_id, a.vec_id, a.embedding, q.qv
                 FROM asg a JOIN probes p ON a.cid = p.cid
                 JOIN q ON q.q_id = p.q_id),
        sc AS (SELECT q_id, vec_id, ${cos("embedding", "qv")} AS sim
               FROM cand),
        ranked AS (SELECT *, row_number() OVER (PARTITION BY q_id
            ORDER BY sim DESC NULLS LAST, vec_id ASC) AS rn FROM sc)
        SELECT q_id, vec_id, round(sim, 6) AS sim_r FROM ranked
        WHERE rn <= 10
        ORDER BY q_id ASC, round(sim, 6) DESC NULLS LAST, vec_id ASC"""
    })

  /** Build (once per JVM) the compiled GeoDb parquet artifact from the
    * builtin CSV dumps — shared by q77 (broadcast-load path) and q78
    * (range-join path). */
  private def geoArtifactDir(s: SparkSession): String = {
    import graft.flow.BuiltinTables
    import graft.functions.GeoDbStore
    val dbDir = tmpWorkDir(
      s"graft_q77_geodb_${ProcessHandle.current().pid()}")
    if (!new java.io.File(dbDir, "_SUCCESS").exists()) {
      val csvDir = java.nio.file.Files.createTempDirectory("geodump")
      val geoCsv = csvDir.resolve("geo.csv")
      val asCsv = csvDir.resolve("as.csv")
      java.nio.file.Files.write(geoCsv,
        BuiltinTables.geoCsv.getBytes(StandardCharsets.UTF_8))
      java.nio.file.Files.write(asCsv,
        BuiltinTables.asCsv.getBytes(StandardCharsets.UTF_8))
      GeoDbStore.compile(s, geoCsv.toString, asCsv.toString,
        dbDir.getAbsolutePath)
    }
    dbDir.getAbsolutePath
  }

  // The compiled-GeoDb ops loop (reference xemkgeodb → mmap'd DB →
  // lookup): CSV dumps → GeoDbStore.compile (sorted-disjoint-range
  // parquet artifact) → GeoDbStore.read → the EXACT q14 enrichment.
  // Same oracle as q14 — artifact round-trip is defined lossless.
  private val q77 = Q(
    "q77_geodb_artifact",
    (s, dir) => {
      import graft.functions.GeoDbStore
      geoipQuery(s, dir, GeoDbStore.read(s, geoArtifactDir(s)))
    },
    Some(geoipOracle))

  // The beyond-broadcast enrichment path: the SAME parquet artifact
  // consumed as a distributed bucketed range join (ranges exploded
  // into /8 buckets, flows equi-joined on the bucket, range residual —
  // GeoDbStore.rangeJoin) instead of a broadcast LPM. Disjoint
  // ranges → at most one match → identical semantics to an LPM CASE.
  private val q78 = Q(
    "q78_geo_range_join",
    (s, dir) => {
      import graft.functions.GeoDbStore
      val artifact = s.read.parquet(geoArtifactDir(s))
      val flows = TestFlowView.load(s, dir)
        .select(col("ip4_dst_addr"), col("in_bytes"),
          col("sampling_rate"))
      GeoDbStore.rangeJoin(flows, "ip4_dst_addr", artifact,
          family = "geo4", valueAs = "geo")
        .select(coalesce(col("geo"), lit("?")).as("geo"),
          col("in_bytes"), col("sampling_rate"))
        .groupBy(col("geo"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("geo").asc)
    }, {
      import graft.flow.BuiltinTables
      val geo4 = BuiltinTables.geoDb.geo4
      Some(s"""WITH $F,
        g AS (SELECT ${OracleSql.lpmCase(geo4, "ip4_dst_addr", -1)}
                AS geo, in_bytes, sampling_rate
              FROM flow)
        SELECT geo, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
        FROM g GROUP BY geo ORDER BY geo ASC""")
    })

  // q78's v6 sibling: the SAME artifact consumed through rangeJoin —
  // hex-aligned top-bits buckets over the binary(16) address, range
  // residual on Spark's unsigned-lexicographic binary ordering (at
  // fixed 16-byte width that IS numeric order). Oracle rebases the
  // NAT64-embedded v4 like q38/q39.
  private val q80 = Q(
    "q80_geo6_range_join",
    (s, dir) => {
      import graft.functions.GeoDbStore
      val artifact = s.read.parquet(geoArtifactDir(s))
      val flows = TestFlowView.load(s, dir)
        .select(col("ip6_dst_addr"), col("in_bytes"),
          col("sampling_rate"))
      GeoDbStore.rangeJoin(flows, "ip6_dst_addr", artifact,
          family = "geo6", valueAs = "geo")
        .select(coalesce(col("geo"), lit("?")).as("geo"),
          col("in_bytes"), col("sampling_rate"))
        .groupBy(col("geo"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("geo").asc)
    }, {
      import graft.flow.BuiltinTables
      val geo6 = BuiltinTables.geoDb.geo6
      Some(s"""WITH $F,
        g AS (SELECT
            ${OracleSql.lpmCase(geo6, "ip4_dst_addr", -1, v6DstBase)}
              AS geo, in_bytes, sampling_rate
          FROM flow)
        SELECT geo, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
        FROM g GROUP BY geo ORDER BY geo ASC""")
    })

  // The incremental-ingest variant of q73: HALF the corpus is indexed
  // by IvfLifecycle.build, the other half arrives later through
  // IvfLifecycle.append (assignment via the index's persisted quantizer).
  // Same oracle as q58/q73 — an appended index is defined bit-identical
  // to one built from the union at once.
  private val q79 = Q(
    "q79_ivf_append",
    (s, dir) => {
      import graft.operators.Similarity
      import Similarity.{IvfF32, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val idxDir = tmpWorkDir(
        s"graft_q79_ivfa_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      // the done marker is ours, not parquet's: append rewrites
      // lists/_SUCCESS, so that file can't distinguish "built" from
      // "built + appended"
      if (!new java.io.File(idxDir, "graft_append_done").exists()) {
        val cents = Similarity.kmeansCentroids(emb, "vec_id",
          "embedding", k = 4, iters = 2)
        val corpus = emb.filter(col("vec_id") =!= 1)
        IvfLifecycle.build(IvfF32,
          corpus.filter(pmod(col("vec_id"), lit(2)) === 0),
          "vec_id", "embedding", cents, "cid", "cv",
          idxDir.getAbsolutePath)
        IvfLifecycle.append(IvfF32, idxDir.getAbsolutePath,
          corpus.filter(pmod(col("vec_id"), lit(2)) =!= 0),
          "vec_id", "embedding")
        new java.io.File(idxDir, "graft_append_done").createNewFile()
      }
      IvfLifecycle.search(IvfF32, OnDisk(idxDir.getAbsolutePath),
          emb.filter(col("vec_id") === 1), "embedding",
          nprobe = 2, k = 20)
        .select(col("id").as("vec_id"), round(col("sim"), 6).as("sim_r"))
    },
    Some(kmeansIvfOracle))

  // ----------------------- streaming-mode oracle (the micro-batch gate)
  /** q81 runs q41's EXACT pipeline — v9 decode → filter DSL → fwm — but
    * through the micro-batch engine end-to-end: a pktdump spool tailed
    * by the DSv2 streaming source, [[graft.sources.NetflowDecoder.decodeStream]]
    * (cross-micro-batch template store), a one-section
    * [[graft.operators.SharedFwm.streamGroup]]'s watermarked tumbling
    * windows in Append mode under `Trigger.AvailableNow`, into a memory
    * sink, finished by [[graft.operators.SharedFwm.slice]].
    * Hash-matching the SAME DuckDB oracle as the batch query proves
    * micro-batching preserves the reference's semantics
    * (INTERNALS.md:16; window close monit-objects-fwm.c:693-723) — the
    * batch/stream equivalence claim, oracle-checked.
    *
    * Watermark mechanics: a sentinel packet (i=64 — even, so proto 6,
    * src 10.0.0.0: it PASSES the filter and therefore reaches the
    * watermark node) is stamped one full window past the data
    * (ts=1700000100). After the data batch the watermark advances to
    * the sentinel's event time, and the engine's no-data flush batch
    * emits all three data windows (ends 1700000010/40/70 ≤ watermark)
    * exactly once; the sentinel's own window stays open and is never
    * emitted, so the oracle sees only range(64). The flush batch only
    * runs under AvailableNow because the source implements
    * SupportsTriggerAvailableNow (PktDump.scala) — Spark's generic
    * wrapper for plain MicroBatchStreams stops after the single data
    * batch commits, leaving the sink empty (r10's red). */
  private val streamRunSeq = new java.util.concurrent.atomic.AtomicInteger

  /** Shared harness for the streaming oracles (q81, q88): run `plan`
    * into a per-run memory sink under Trigger.AvailableNow, assert the
    * micro-batch engine actually executed (progress with input rows —
    * the batch path would satisfy a rows-only check), and return the
    * sink's rows eagerly materialized so the temp view — which pins
    * them — can always be dropped, even on the failure paths (a long
    * Bench process reruns these queries many times; r10's leak was
    * exactly this teardown missing). */
  /** Author the 65-packet v9 replay spool shared by the streaming
    * oracles (q81, q107): 64 data flows at ts 1700000000+i plus ONE
    * sentinel packet a full window later (ts 1700000100) whose arrival
    * advances the watermark past every data window — the load-bearing
    * constants of the AvailableNow flush mechanics live HERE only. */
  private def authorV9Spool(base: java.io.File, run: Int): java.io.File = {
    import graft.sources.PktDump
    val spool = new java.io.File(base, s"spool-$run")
    spool.mkdirs()
    v9Packets(65).zipWithIndex
      .map { case (p, i) =>
        (p, if (i < 64) 1700000000L + i else 1700000100L, 1L) }
      .grouped(16).zipWithIndex.foreach { case (g, f) =>
        PktDump.write(f"$spool/part-$f%03d.gpkd", g.toSeq)
      }
    spool
  }

  /** Link (or copy) a source table's parquet part file(s) into `spool`
    * `copies` times — the shared spool builder for the streaming replay
    * oracles. Handles BOTH table shapes: the driver's single files and
    * Spark-written directories-of-parts (the sf1.0 replicas of
    * SCALE.md "r9: sf1.0 scale-slope sweep"). Links
    * individual FILES only — a directory symlink once let the spool
    * cleanup hook delete the target's contents, and the file stream
    * source doesn't list through one anyway. @return parts per copy */
  private def linkIntoSpool(spool: java.io.File, table: String,
                            copies: Int): Int = {
    val target = java.nio.file.Paths.get(table)
    val parts: Seq[java.nio.file.Path] =
      if (java.nio.file.Files.isDirectory(target)) {
        val st = java.nio.file.Files.list(target)
        try st.iterator().asScala.toSeq
          .filter(_.getFileName.toString.endsWith(".parquet"))
        finally st.close()
      } else Seq(target)
    for (c <- 0 until copies; (p, i) <- parts.zipWithIndex) {
      val link =
        new java.io.File(spool, f"replay-$c-$i%04d.parquet").toPath
      try java.nio.file.Files.createSymbolicLink(link, p)
      catch { case _: Exception => java.nio.file.Files.copy(p, link) }
    }
    parts.size
  }

  /** transformWithState requires the RocksDB store; session-scoped, so
    * bracket it (plain-streaming queries must not inherit it). */
  private def withRocksDb[A](s: SparkSession)(body: => A): A = {
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    try body
    finally s.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  /** Streaming-harness state sizing (q113's measured fix, r21 applied
    * to every streaming oracle): a stateful query fixes its state
    * partition count from `spark.sql.shuffle.partitions` at FIRST
    * start, and every micro-batch then pays one state-store instance
    * load + commit PER PARTITION per stateful operator (RocksDB init
    * alone was ~5 s/batch at 32 shards in q113; q109 measured 13.6 s
    * at 32 shards vs 8.3 s at 8). These harness streams carry tens to
    * hundreds of keys, so 32 shards is pure constant overhead — state
    * partitioning never changes WHAT a stateful operator emits, only
    * where keys live. Scoped + restored around the stream run; batch
    * work outside streams keeps the session's setting. Deployments
    * size this to key cardinality × throughput. */
  private def withStreamParts[A](s: SparkSession)(body: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try body
    finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  private def runStreamToMemory(s: SparkSession, sinkName: String,
      ckptDir: java.io.File, outputMode: String = "append")(
      plan: DataFrame): DataFrame = {
    val query = plan.writeStream
      .format("memory")
      .queryName(sinkName)
      .outputMode(outputMode)
      .option("checkpointLocation", ckptDir.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      query.awaitTermination()
      require(query.recentProgress.exists(_.numInputRows > 0),
        s"$sinkName must execute through the micro-batch engine " +
          "(no progress with input rows recorded)")
      s.table(sinkName).localCheckpoint()
    } finally s.catalog.dropTempView(sinkName)
  }

  private val q81 = Q(
    "q81_stream_fwm",
    (s, dir) => {
      import graft.operators.SharedFwm
      import graft.sources.NetflowDecoder
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      // per-run spool/checkpoint/sink/namespace: reruns in one process
      // (Bench) must not see a committed checkpoint or a stale memory
      // table, and concurrent drivers must not share a spool
      val base = tmpWorkDir(s"graft_q81_stream_$pid")
      val spool = authorV9Spool(base, run)
      val ns = s"q81-$pid-$run"
      NetflowDecoder.clearStreamCache(ns)
      val env = FilterEnv.flow(s)
      val pred = Compiler.filterColumn("proto 6 and src net 10.0.0.0/24",
        env).fold(e => sys.error(e), identity)
      val section = SharedFwm.Section("q81", pred,
        Fwm.Conf("streamed", Seq("octets desc", "src host"), timeSec = 30))
      val flows = NetflowDecoder.decodeStream(
          s.readStream.format("pktdump").load(spool.getAbsolutePath), ns)
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
      try {
        val sunk = withStreamParts(s)(runStreamToMemory(s,
          s"q81_sink_$run",
          new java.io.File(base, s"ckpt-$run"))(
          SharedFwm.streamGroup(flows, env, Seq(section))))
        // the OUTPUT assertion: numInputRows alone passed even when
        // the watermark flush never ran and the sink stayed empty
        // (r10's 0-rows-vs-21 red). The spool is authored above, so
        // the closed-window count is a constant of the query: distinct
        // (src, window) survivors per closed window are 5 + 8 + 8 = 21
        // (window 1 holds even i in 0..9 -> 5 srcs; windows 2 and 3
        // each cover all 8 even residues of i % 16). Fails fast with
        // the cause instead of an opaque oracle hash mismatch.
        // The time guard excludes the sentinel window defensively (it
        // is never emitted anyway).
        val frozen = sunk.filter(col("time") < 1700000100L)
        val cnt = frozen.count()
        require(cnt == 21,
          s"q81 sink has $cnt rows, expected 21 closed-window rows — " +
            "the engine did not flush the watermark-closed Append " +
            "windows (SupportsTriggerAvailableNow regression?)")
        SharedFwm.slice(frozen, section)  // = q41's declared sort
      } finally {
        // the decode namespace outlives the sink teardown the helper
        // does — clear it on every path (r10 leak, ADVICE.md)
        NetflowDecoder.clearStreamCache(ns)
      }
    },
    Some("""WITH flows AS (
        SELECT 1700000000 + i AS ts_sec,
               CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               100 + i AS in_bytes,
               167772160 + (i % 16) AS src_host
        FROM range(64) t(i)),
      f AS (SELECT * FROM flows WHERE protocol = 6),
      agg AS (
        SELECT ts_sec - (ts_sec % 30) AS time, src_host,
               CAST(SUM(in_bytes * 1 * 1) AS BIGINT) AS octets
        FROM f GROUP BY 1, 2)
      SELECT CAST(time AS BIGINT) AS time,
             CAST(src_host AS BIGINT) AS src_host, octets
      FROM agg
      ORDER BY time ASC, (src_host IS NULL) ASC,
               octets DESC NULLS LAST, src_host ASC NULLS FIRST"""))

  // ------------------------------------- alert lifecycle timeline oracle
  /** q82 drives the REAL alert state machine ([[AlertMachine]], the act
    * thread's lifecycle: monit-objects-mavg-act.c:342-444) over driver
    * data and oracle-checks the full event timeline. Per-src_as traffic
    * is bucketed onto a fixed 240-tick grid; a bucket whose octet sum
    * exceeds a global limit (1.5x the mean key-bucket load, integer
    * arithmetic) breaches; [[AlertTimeline.replay]] then replays
    * breach→tick per key and emits started/updated/ended events with
    * the machine's decayed values. The DuckDB oracle is an INDEPENDENT
    * re-derivation: a recursive CTE stepping the same transition
    * function (including the check_items:477-489 stale-value quirk and
    * the 3-tick update cadence) — hash-equality proves the distributed
    * replay preserves the reference's lifecycle semantics end to end.
    * All event values are exact multiples of 1/8 of integer sums
    * (decay factors k/8, window 8 ticks), so Double comparison is
    * bit-exact in both engines. */
  /** The q82 timeline oracle — an INDEPENDENT recursive-CTE
    * re-derivation of the whole lifecycle (see q82's scaladoc). Shared
    * verbatim by q109: the STREAMING replay must reproduce the exact
    * same timeline, so the two queries pin batch and live against ONE
    * oracle text. */
  private lazy val alertTimelineOracle: String = s"""WITH RECURSIVE $F,
      b AS (SELECT MIN(ts_sec) AS mn, MAX(ts_sec) AS mx,
                   SUM(in_bytes) AS tot FROM flow),
      p AS (SELECT mn, (mx - mn + 240) // 240 AS w,
                   CAST((tot * 3) // 3840 AS DOUBLE) AS lim FROM b),
      series AS (SELECT src_as AS k, (ts_sec - mn) // w AS i,
                        CAST(SUM(in_bytes) AS DOUBLE) AS v
                 FROM flow, p GROUP BY 1, 2),
      keys AS (SELECT DISTINCT k FROM series),
      mach AS (
        SELECT k, CAST(-1 AS BIGINT) AS i, 'none' AS st,
               CAST(0 AS BIGINT) AS t_last, CAST(0 AS BIGINT) AS t_dump,
               CAST(0 AS BIGINT) AS t_b2n, CAST(0 AS DOUBLE) AS val,
               CAST(NULL AS VARCHAR) AS ev, CAST(NULL AS DOUBLE) AS ev_val
        FROM keys
        UNION ALL
        SELECT k, now AS i,
               CASE WHEN b_st = 'none' THEN 'none'
                    WHEN b_st = 'gone' THEN 'gone'
                    WHEN b_st = 'new'  THEN 'update'
                    WHEN gone THEN 'gone' ELSE a_st END,
               b_tlast,
               CASE WHEN b_st = 'new' THEN now
                    WHEN b_st IN ('update','almost') AND NOT gone
                         AND b_tdump + 3 <= now THEN now
                    ELSE b_tdump END,
               CASE WHEN b_st IN ('update','almost') THEN a_tb2n
                    ELSE b_tb2n END,
               b_val,
               CASE WHEN b_st = 'new' THEN 'started'
                    WHEN b_st IN ('update','almost') AND gone THEN 'ended'
                    WHEN b_st IN ('update','almost')
                         AND b_tdump + 3 <= now THEN 'updated'
                    ELSE NULL END,
               CASE WHEN b_st = 'new' THEN b_val
                    WHEN b_st IN ('update','almost') THEN decayed
                    ELSE NULL END
        FROM (
          SELECT *, (a_st = 'almost' AND now > a_tb2n + 2) AS gone
          FROM (
            SELECT *,
              CASE WHEN b_st NOT IN ('update','almost') THEN b_st
                   WHEN breaching2 THEN 'update'
                   WHEN b_st = 'update' THEN 'almost'
                   ELSE b_st END AS a_st,
              CASE WHEN b_st NOT IN ('update','almost') THEN b_tb2n
                   WHEN breaching2 THEN 0
                   WHEN b_st = 'update' THEN now
                   ELSE b_tb2n END AS a_tb2n
            FROM (
              SELECT *, (decayed > lim) AS breaching2
              FROM (
                SELECT *,
                  CASE WHEN now > b_tlast + 8 THEN 0.0
                       ELSE b_val - (now - b_tlast) / 8.0 * b_val
                  END AS decayed
                FROM (
                  SELECT k, now, lim,
                    CASE WHEN NOT breach THEN st
                         WHEN st IN ('none','gone') THEN 'new'
                         ELSE st END AS b_st,
                    CASE WHEN NOT breach THEN t_last
                         WHEN st IN ('none','gone') THEN now
                         WHEN st = 'update' THEN now
                         ELSE t_last END AS b_tlast,
                    CASE WHEN breach AND st IN ('none','gone') THEN 0
                         ELSE t_dump END AS b_tdump,
                    CASE WHEN breach AND st IN ('none','gone') THEN 0
                         ELSE t_b2n END AS b_tb2n,
                    CASE WHEN NOT breach THEN val
                         WHEN st IN ('none','gone') THEN v
                         WHEN st = 'update' AND t_dump + 3 < now THEN val
                         WHEN st = 'update' THEN v
                         ELSE val END AS b_val
                  FROM (
                    SELECT m.k, m.i + 1 AS now, m.st, m.t_last, m.t_dump,
                           m.t_b2n, m.val, s.v, p.lim,
                           (s.v IS NOT NULL AND s.v > p.lim) AS breach
                    FROM mach m
                    LEFT JOIN series s ON s.k = m.k AND s.i = m.i + 1
                    CROSS JOIN p
                    WHERE m.i < 239
                  )
                )
              )
            )
          )
        )
      )
      SELECT k AS src_as, i AS t, ev, ev_val AS val
      FROM mach WHERE ev IS NOT NULL
      ORDER BY src_as ASC, t ASC"""

  private val q82 = Q(
    "q82_alert_timeline",
    (s, dir) => {
      val flow = TestFlowView.load(s, dir)
        .select(col("ts_sec"), col("src_as"), col("in_bytes"))
      // grid + limit constants: one bounded 1-row aggregate (two scans
      // total at any scale; cache flow upstream if that matters)
      val b = flow.agg(min("ts_sec"), max("ts_sec"),
        sum("in_bytes")).head()
      val (mn, mx, tot) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val w = (mx - mn + 240L) / 240L // ceil((span)/240), span=mx-mn+1
      val lim = (tot * 3L) / 3840L    // 1.5x mean over 240 ticks x 8 keys
      val series = flow
        .groupBy(col("src_as"),
          expr(s"(ts_sec - ${mn}L) DIV ${w}L").as("idx"))
        .agg(sum("in_bytes").as("v"))
        .withColumn("lim", lit(lim))
      AlertTimeline.replay(series, "src_as", "idx", "v", "lim",
          nTicks = 240, windowTicks = 8, back2normTicks = 2)
        .select(col("key").as("src_as"), col("t"), col("ev"), col("val"))
        .orderBy(col("src_as").asc, col("t").asc)
    },
    Some(alertTimelineOracle))

  // --------------------------------------- named IP-list LPM membership
  /** q83 oracle-checks `src net <listname>` — the reference's named
    * IP-list filter (filter.c:186-218, loaded from iplists.d) compiled
    * to the codegen'd LPM membership expression
    * ([[graft.functions.IpList.contains]], no UDF). The list mixes
    * DISJOINT, NESTED (10.0.4.0/22 inside 10.0.0.0/20) and /32
    * prefixes so the interval build's overlap handling is on the hook;
    * the DuckDB oracle re-expresses membership as the union of closed
    * address ranges (nested range absorbed). */
  private val q83 = Q(
    "q83_filter_netlist",
    (s, dir) => {
      import graft.functions.IpList
      val env = FilterEnv.flow(s, ipLists = Map("watch" -> IpList("watch",
        Seq("10.0.0.0/20", "10.0.4.0/22", "10.2.0.0/15",
          "10.8.128.0/17", "10.15.0.1/32"))))
      val pred = Compiler.filterColumn("src net watch and proto 6", env)
        .fold(e => sys.error(e), identity)
      TestFlowView.load(s, dir)
        .filter(pred)
        .groupBy(col("src_as"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"))
        .orderBy(col("src_as").asc)
    },
    Some(s"""WITH $F
      SELECT src_as, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets
      FROM flow
      WHERE (ip4_src_addr BETWEEN 167772160 AND 167776255
         OR ip4_src_addr BETWEEN 167903232 AND 168034303
         OR ip4_src_addr BETWEEN 168329216 AND 168361983
         OR ip4_src_addr = 168755201)
        AND protocol = 6
      GROUP BY src_as ORDER BY src_as ASC"""))

  /** q84: the corpus-scale exact-dedup path (narrow digest winner
    * shuffle + id semi-join, Dedup.exactByDigest) against the plain
    * GROUP-BY-min oracle — proves the digest route loses nothing on
    * real documents, not just on the spec corpus. */
  private val q84 = Q(
    "q84_dedup_digest",
    (s, dir) => {
      import graft.operators.Dedup
      Dedup.exactByDigest(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    },
    Some("""SELECT doc_id, lang, source, n_chars FROM documents
      WHERE doc_id IN (SELECT CAST(MIN(doc_id) AS BIGINT)
                       FROM documents GROUP BY text)
      ORDER BY doc_id ASC"""))

  /** q85: GLOBAL top-N + others over the whole per-AS aggregate — the
    * windowed `TopK.topNOthers` with no partition columns, so the oracle's
    * head LIMIT + residual sum checks the unpartitioned cut. */
  private val q85 = Q(
    "q85_topn_global",
    (s, dir) => {
      val agg = TestFlowView.load(s, dir)
        .groupBy(col("dst_as"))
        .agg(sum(col("in_bytes") * col("sampling_rate")).as("octets"))
      TopK.topNOthers(agg, Nil, Seq("dst_as"), Seq("octets"),
        Seq(col("octets").desc, col("dst_as").asc), 5)
        .orderBy(col("dst_as").isNull.cast("int").asc,
          col("octets").desc, col("dst_as").asc)
    },
    Some(s"""WITH $F,
      agg AS (SELECT dst_as,
                CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
              FROM flow GROUP BY 1),
      head AS (SELECT * FROM agg
               ORDER BY octets DESC, dst_as ASC LIMIT 5),
      others AS (SELECT CAST(NULL AS BIGINT) AS dst_as,
                   CAST(SUM(octets) AS BIGINT) AS octets
                 FROM agg WHERE dst_as NOT IN (SELECT dst_as FROM head)
                 HAVING COUNT(*) > 0)
      SELECT * FROM (SELECT * FROM head UNION ALL SELECT * FROM others)
      ORDER BY (dst_as IS NULL) ASC, octets DESC, dst_as ASC"""))

  /** q86: GLOBAL top-pct cut over the (src_as, dst_as) aggregate via
    * `TopK.topPctCut`. Oracle is the plain windowed cumsum with identical
    * double math. */
  private val q86 = Q(
    "q86_toppct_global",
    (s, dir) => {
      val agg = TestFlowView.load(s, dir)
        .groupBy(col("src_as"), col("dst_as"))
        .agg(sum(col("in_bytes") * col("sampling_rate")).as("octets"))
      TopK.topPctCut(agg, "octets", 80.0,
        Seq(col("src_as").asc, col("dst_as").asc))
        .orderBy(col("octets").desc, col("src_as").asc, col("dst_as").asc)
    },
    Some(s"""WITH $F,
      agg AS (SELECT src_as, dst_as,
                CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
              FROM flow GROUP BY 1, 2),
      c AS (SELECT src_as, dst_as, octets,
              CAST(COALESCE(SUM(octets) OVER (
                ORDER BY octets DESC, src_as ASC, dst_as ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                AS BIGINT) AS cum,
              CAST(SUM(octets) OVER () AS BIGINT) AS tot
            FROM agg)
      SELECT src_as, dst_as, octets FROM c
      WHERE cum < tot * 80.0 / 100.0
      ORDER BY octets DESC, src_as ASC, dst_as ASC"""))

  /** q87: MAC-equality and string-equality DSL predicates end-to-end
    * (reference filter.c MacL/StringL compares; CONFIG.md:298 unprefixed
    * = src OR dst). The flow view's MACs embed a 6-bit id in
    * 02:00:00:00:00:xx, so the oracle mirrors the byte compare on the
    * embedded integer; `sni` is NULL on most rows — 3VL must agree. */
  private val q87 = Q(
    "q87_filter_mac_str",
    (s, dir) => {
      val env = FilterEnv.flow(s)
      val pred = Compiler.filterColumn(
        "mac 02:00:00:00:00:2a or sni cdn.example.org", env)
        .fold(e => sys.error(e), identity)
      TestFlowView.load(s, dir)
        .filter(pred)
        .groupBy(col("protocol"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("protocol").asc)
    },
    Some(s"""WITH $F
      SELECT protocol, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * sampling_rate) AS BIGINT) AS octets
      FROM flow
      WHERE (src_mac_id = 42 OR dst_mac_id = 42)
         OR sni = 'cdn.example.org'
      GROUP BY protocol ORDER BY protocol ASC"""))

  /** q88: STREAMING near-dup candidates over the real documents table
    * (StreamingNearDup — transformWithState per LSH bucket), replayed
    * with Trigger.AvailableNow from a parquet file source and checked
    * against the BATCH minhash-candidates oracle (q16's CTE, same
    * sketch parameters). Streaming orients pairs by arrival; with
    * tsNs = doc_id the arrival order IS id order, and normalizing to
    * (least, greatest) + distinct (band multiplicity — class doc) makes
    * the two pair SETS provably identical at minEst = 0. */
  private val q88 = Q(
    "q88_stream_neardup",
    (s, dir) => {
      import graft.streaming.StreamingNearDup
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q88_stream_$pid")
      val sinkName = s"q88_sink_$run"
      // the file stream source lists a DIRECTORY; expose the table via
      // a per-run spool of linked part files
      val spool = new java.io.File(base, s"spool-$run")
      spool.mkdirs()
      linkIntoSpool(spool, s"$dir/documents.parquet", copies = 1)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      withStreamParts(s) { withRocksDb(s) {
        val docs = s.readStream.schema(schema)
          .parquet(spool.getAbsolutePath)
        runStreamToMemory(s, sinkName,
          new java.io.File(base, s"ckpt-$run"))(
          StreamingNearDup.candidates(docs, "doc_id", "doc_id",
            "text", maxPerBucket = 1 << 20).toDF())
          .select(least(col("a"), col("b")).as("a"),
            greatest(col("a"), col("b")).as("b"))
          .distinct()
          .orderBy(col("a").asc, col("b").asc)
      } }
    },
    Some(s"""WITH ${OracleSql.minhashPairsCtes}
      SELECT a, b FROM pairs ORDER BY a ASC, b ASC"""))

  /** q89: product quantization end-to-end — train per-subspace
    * codebooks (integer Lloyd, same recurrence as q57), encode the
    * corpus to m codes, and run an ADC top-10 for a fixed query id.
    * The oracle replays training + encoding + the distance-table sum
    * exactly (OracleSql.pqCtes) — PQ is the memory side of IVF-PQ at
    * corpus scale: codes are m small ints instead of 4·dim bytes and
    * search reads codes, never vectors. */
  private val q89 = Q(
    "q89_pq_adc",
    (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val book = Similarity.pqTrainQuantized(emb, "vec_id", "embedding",
        dim = 64, m = 4, k = 4, iters = 2)
      Similarity.pqSearchADC(emb, "vec_id", "embedding", book,
          queryId = 0L, dim = 64, m = 4, topK = 10)
        .select(col("id").as("vec_id"), col("adist"))
    },
    Some(s"""WITH ${OracleSql.pqCtes(4, 4, 2, 64, 1000000L, 0L)}
      SELECT id AS vec_id, adist FROM padc
      ORDER BY adist ASC, vec_id ASC LIMIT 10"""))

  /** q90: IVF-PQ composed — coarse inverted lists prune the candidate
    * set (integer k-means + nprobe probes), PQ codes score it (ADC).
    * The oracle replays BOTH halves: the coarse quantizer via the
    * k-means CTEs, the codes via the PQ CTEs, joined by the probe
    * filter. This is the 100 TB ANN deployment shape: per-query cost =
    * nprobe list scans over m-int codes. */
  private val q90 = Q(
    "q90_ivfpq",
    (s, dir) => {
      import graft.operators.Similarity
      Similarity.ivfPqSearch(t(s, dir, "embeddings"), "vec_id",
          "embedding", coarseK = 4, coarseIters = 2, m = 4, pqK = 4,
          pqIters = 2, nprobe = 2, queryId = 0L, dim = 64, topK = 10)
        .select(col("id").as("vec_id"), col("adist"))
    },
    Some(s"""WITH ${OracleSql.ivfPqCtes(4, 2, 4, 4, 2, 64, 1000000L,
        0L, 2)}
      SELECT id AS vec_id, adist FROM ivfpq
      ORDER BY adist ASC, vec_id ASC LIMIT 10"""))

  /** q91: Kafka archived-topic replay through the standard source
    * SCHEMA (value = datagram bytes, key = exporter v4 BE, timestamp =
    * receive time — KafkaIngest's producer convention) → batch decode.
    * Exercises the whole projection: key→dev_ip, timestamp→ts_sec,
    * value→v9 decode, with two interleaved exporters. The connector
    * itself only shapes the DataFrame; everything after `.load()` is
    * this path, so the oracle replays the decoded stream from the same
    * integers the packets were built from (q40's pattern). */
  private val q91 = Q(
    "q91_kafka_replay",
    (s, dir) => {
      import graft.sources.KafkaIngest
      import s.implicits._
      val recs = v9Packets(64).zipWithIndex.map { case (p, i) =>
        val ip = 3221225985L + (i % 2)  // 192.0.2.1 / 192.0.2.2
        val key = Array[Byte]((ip >> 24).toByte, (ip >> 16).toByte,
          (ip >> 8).toByte, ip.toByte)
        (key, p, new java.sql.Timestamp((1700000000L + i) * 1000L))
      }
      val kafka = s.createDataset(recs).toDF("key", "value", "timestamp")
      KafkaIngest.decode(kafka)
        .groupBy(col("dev_ip"), col("protocol"))
        .agg(count(lit(1)).as("n"), sum(col("in_bytes")).as("octets"),
          min(col("ts_sec")).as("ts_min"), max(col("ts_sec")).as("ts_max"))
        .orderBy(col("dev_ip").asc, col("protocol").asc)
    },
    Some("""WITH flows AS (
        SELECT 3221225985 + (i % 2) AS dev_ip,
               CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               100 + i AS in_bytes,
               1700000000 + i AS ts_sec
        FROM range(64) t(i))
      SELECT CAST(dev_ip AS BIGINT) AS dev_ip,
             CAST(protocol AS BIGINT) AS protocol,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes) AS BIGINT) AS octets,
             CAST(MIN(ts_sec) AS BIGINT) AS ts_min,
             CAST(MAX(ts_sec) AS BIGINT) AS ts_max
      FROM flows GROUP BY 1, 2 ORDER BY 1, 2"""))

  /** q92: the reference's actual processing chain over DECODED flows —
    * wire decode (two v9 exporters) → device enrichment keyed on the
    * decoder-stamped dev_ip (q91's fix made this possible; q32 covers
    * the same operator over the synthetic view) → sampled-octet
    * aggregation. Exercises that the per-device sampling rate reaches
    * real decoded rows whose wire records carry no rate of their own. */
  private val q92 = Q(
    "q92_decode_enrich_agg",
    (s, dir) => {
      import graft.flow.Devices
      import graft.sources.NetflowDecoder
      import s.implicits._
      val packets = v9Packets(64).zipWithIndex.map { case (p, i) =>
        (p, 1700000000L + i, 3221225985L + (i % 2)) }
      val df = s.createDataset(packets).toDF("payload", "ts_sec", "src_ip")
      val env = FilterEnv.flow(s)
      val devices = Seq(
        Devices.Device(Some(3221225985L), None, samplingRate = 10L),
        Devices.Device(Some(3221225986L), None, samplingRate = 1000L))
      Devices.enrich(NetflowDecoder.decode(df), devices, env)
        .groupBy(col("dev_ip"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * col("sampling_rate")).as("octets"))
        .orderBy(col("dev_ip").asc)
    },
    Some("""WITH flows AS (
        SELECT 3221225985 + (i % 2) AS dev_ip,
               100 + i AS in_bytes,
               CASE WHEN i % 2 = 0 THEN 10 ELSE 1000 END AS rate
        FROM range(64) t(i))
      SELECT CAST(dev_ip AS BIGINT) AS dev_ip,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * rate) AS BIGINT) AS octets
      FROM flows GROUP BY 1 ORDER BY 1"""))

  /** q93: HyperLogLog distinct sources per destination AS — the
    * bounded-state scale substitute for q26's exact DISTINCT (a full
    * fwm DISTINCT key shuffles its whole cardinality; HLL shuffles
    * ≤ keys·m rows at ANY input size). The oracle replays the md5
    * register assignment, the ordered 2^−rho fold and the alpha·m²
    * bias formula bit-for-bit, and carries the exact distinct count
    * next to the estimate so the row itself shows the sketch error. */
  private val q93 = Q(
    "q93_hll_distinct",
    (s, dir) => {
      import graft.operators.Sketches
      val flow = TestFlowView.load(s, dir)
      val est = Sketches.hllEstimate(flow, Seq("dst_as"), "ip4_src_addr", 8)
      val exact = flow.groupBy(col("dst_as"))
        .agg(countDistinct(col("ip4_src_addr")).as("exact"))
      est.join(exact, "dst_as")
        .select(col("dst_as"), col("n_obs"), col("est"), col("exact"))
        .orderBy(col("dst_as").asc)
    },
    Some(s"""WITH $F,
      hsrc AS (SELECT dst_as, ip4_src_addr AS hv FROM flow),
      ${OracleSql.hllCtes(Seq("dst_as"), 8, "hsrc")},
      x AS (SELECT dst_as,
              CAST(COUNT(DISTINCT ip4_src_addr) AS BIGINT) AS exact
            FROM flow GROUP BY 1)
      SELECT e.dst_as, n_obs, est, exact
      FROM hest e JOIN x USING (dst_as)
      ORDER BY e.dst_as ASC"""))

  /** q94: Count-Min heavy-hitter ports — bounded-memory frequency
    * estimation (the cluster-scale stance on the reference's exact
    * `mfreq` most-frequent attribute, filter.c): the d×w integer grid
    * is built with one map-side-combined groupBy and BROADCAST to
    * estimate any candidate set without re-shuffling raw rows. Pure
    * integer math → the estimates (over-counts included) replay
    * exactly in DuckDB. */
  private val q94 = Q(
    "q94_cms_heavy",
    (s, dir) => {
      import graft.operators.Sketches
      val flow = TestFlowView.load(s, dir)
      val cands = flow.select(col("l4_dst_port")).distinct()
      Sketches.cmsHeavyHitters(flow, "l4_dst_port", 4, 1024, 50L, cands)
        .orderBy(col("est").desc, col("l4_dst_port").asc)
    },
    Some(s"""WITH $F,
      csrc AS (SELECT l4_dst_port AS v FROM flow),
      ccand AS (SELECT DISTINCT l4_dst_port AS v FROM flow),
      ${OracleSql.cmsCtes(4, 1024)}
      SELECT v AS l4_dst_port, est FROM cest WHERE est >= 50
      ORDER BY est DESC, l4_dst_port ASC"""))

  /** q95: exact discrete quantiles of document length per language via
    * the VALUE-DOMAIN path (Sketches.quantilesByValue): the cumulative
    * window runs over distinct (lang, n_chars) pairs — never raw rows —
    * so the length-percentile quality gate stays distributed at corpus
    * scale. k = ⌊bp·(n−1)/10⁴⌋+1 order statistics, integer-exact. */
  private val q95 = Q(
    "q95_quantile_domain",
    (s, dir) => {
      import graft.operators.Sketches
      Sketches.quantilesByValue(t(s, dir, "documents"), Seq("lang"),
        "n_chars", Seq(2500, 5000, 9000, 9900))
        .orderBy(col("lang").asc, col("bp").asc)
    },
    Some("""WITH c AS (SELECT lang, n_chars,
               CAST(COUNT(*) AS BIGINT) AS cnt
             FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
      w AS (SELECT lang, n_chars, cnt,
              CAST(SUM(cnt) OVER (PARTITION BY lang ORDER BY n_chars ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum,
              CAST(SUM(cnt) OVER (PARTITION BY lang) AS BIGINT) AS total
            FROM c),
      b AS (SELECT w.*, CAST(t.bp AS BIGINT) AS bp
            FROM w CROSS JOIN
              (SELECT unnest([2500, 5000, 9000, 9900]) AS bp) t),
      q AS (SELECT lang, bp, MIN(n_chars) AS q_value FROM b
            WHERE cum >= ((bp * (total - 1)) // 10000) + 1
            GROUP BY 1, 2)
      SELECT lang, bp, q_value FROM q ORDER BY lang ASC, bp ASC"""))

  /** Shared q96/q97 versioned dimension: 10 sampling-rate versions per
    * device at 3-day epochs starting 12 h into the data (so the first
    * 12 h of flows predate any version → NULL-payload rows are
    * exercised). Pure integer derivation, replayed in the oracle. */
  private def deviceRateHistory(s: SparkSession): DataFrame =
    s.range(0, 10).select(
      explode(array(lit(100L), lit(101L))).as("dev_ip"),
      (lit(1704110400L) + col("id") * 259200L).as("vt"),
      (lit(1L) + (col("id") * 3L) % 5L).as("rate"))
      .withColumn("rate", col("rate") + (col("dev_ip") % 2L))

  private val asofDimCte =
    """dim AS (SELECT d.dev_ip,
               1704110400 + k.i*259200 AS vt,
               1 + (k.i*3) % 5 + d.dev_ip % 2 AS rate
             FROM (VALUES (100),(101)) d(dev_ip)
             CROSS JOIN range(0,10) k(i))"""

  /** q96: as-of join, union+window path — enrich every flow with the
    * sampling-rate version in force AT THE FLOW'S TIME (the replay
    * stance on the reference's mutate-in-place device settings,
    * devices.c:153-200) and scale octets by it. Oracle: DuckDB's
    * native ASOF LEFT JOIN — an independent implementation of the
    * semantics, not a replay of ours. */
  private val q96 = Q(
    "q96_asof_window",
    (s, dir) => {
      import graft.operators.AsOfJoin
      val flow = TestFlowView.load(s, dir)
        .select("dev_ip", "ts_sec", "in_bytes")
      AsOfJoin.backward(flow, deviceRateHistory(s), Seq("dev_ip"),
          "ts_sec", "vt")
        .groupBy(col("dev_ip"), col("rate"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_bytes") * coalesce(col("rate"), lit(1L)))
            .cast(LongType).as("octets_scaled"))
        .orderBy(col("dev_ip").asc, col("rate").asc_nulls_first)
    },
    Some(s"""WITH $F, $asofDimCte,
      e AS (SELECT f.dev_ip, f.in_bytes, d.rate
            FROM flow f ASOF LEFT JOIN dim d
              ON f.dev_ip = d.dev_ip AND f.ts_sec >= d.vt)
      SELECT dev_ip, rate, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * COALESCE(rate, 1)) AS BIGINT)
               AS octets_scaled
      FROM e GROUP BY 1, 2
      ORDER BY dev_ip ASC, rate ASC NULLS FIRST"""))

  /** q97: as-of join, broadcast zero-fact-shuffle path, with a 2-day
    * staleness tolerance (version epochs are 3 days apart, so flows in
    * each version's third day enrich as NULL — the "config too old to
    * trust" guard). The fact side never shuffles: history → sorted
    * arrays → broadcast → per-row array probe (plan-asserted in
    * AsOfJoinSpec). */
  private val q97 = Q(
    "q97_asof_broadcast",
    (s, dir) => {
      import graft.operators.AsOfJoin
      val flow = TestFlowView.load(s, dir)
        .select("dev_ip", "ts_sec", "in_pkts")
      AsOfJoin.backwardBroadcast(flow, deviceRateHistory(s), Seq("dev_ip"),
          "ts_sec", "vt", tolerance = Some(172800L))
        .groupBy(col("rate"))
        .agg(count(lit(1)).as("n"),
          sum(col("in_pkts")).cast(LongType).as("pkts"))
        .orderBy(col("rate").asc_nulls_first)
    },
    Some(s"""WITH $F, $asofDimCte,
      e AS (SELECT CASE WHEN f.ts_sec - d.vt > 172800 THEN NULL
                        ELSE d.rate END AS rate,
                   f.in_pkts
            FROM flow f ASOF LEFT JOIN dim d
              ON f.dev_ip = d.dev_ip AND f.ts_sec >= d.vt)
      SELECT rate, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_pkts) AS BIGINT) AS pkts
      FROM e GROUP BY 1
      ORDER BY rate ASC NULLS FIRST"""))

  /** q98: Bloom-prefiltered contamination — the scale escape for q52's
    * broadcast gram probe when the benchmark set outgrows a broadcast:
    * a dense k·m-BIT bitmap (k·m/64 longs) is broadcast instead of the
    * gram strings, the corpus probes it with O(1) word fetches, and
    * only admitted
    * grams enter the shuffled exact semi join. n_maybe ≥ n_contam on
    * every row (Bloom admits a superset); both counts are oracled, so
    * the false-positive behavior of the filter itself is pinned, not
    * just the final answer. */
  private val q98 = Q(
    "q98_bloom_contam",
    (s, dir) => {
      import graft.operators.Contamination
      val docs = t(s, dir, "documents")
      val bench = docs.filter(col("source").isin("src0", "src1"))
      Contamination.bloomContamination(docs, bench, "doc_id", "text", 3,
          k = 3, m = 65536)
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH dg AS (SELECT DISTINCT doc_id, g FROM
        (SELECT doc_id, unnest(${OracleSql.shinglesSql("text", 3)}) AS g
         FROM documents)),
      bgr AS (SELECT DISTINCT g FROM
        (SELECT unnest(${OracleSql.shinglesSql("text", 3)}) AS g
         FROM documents WHERE source IN ('src0', 'src1'))),
      bh AS (SELECT g,
          CAST('0x' || substr(md5(g), 1, 10) AS BIGINT) AS h1,
          CAST('0x' || substr(md5(g), 11, 10) AS BIGINT) * 2 + 1 AS h2
        FROM bgr),
      bits AS (SELECT DISTINCT t.j, (h1 + t.j * h2) % 65536 AS c
        FROM bh CROSS JOIN range(0, 3) t(j)),
      dh AS (SELECT doc_id, g,
          CAST('0x' || substr(md5(g), 1, 10) AS BIGINT) AS h1,
          CAST('0x' || substr(md5(g), 11, 10) AS BIGINT) * 2 + 1 AS h2
        FROM dg),
      cells AS (SELECT doc_id, g, t.j, (h1 + t.j * h2) % 65536 AS c
        FROM dh CROSS JOIN range(0, 3) t(j)),
      mb AS (SELECT doc_id, g, (COUNT(b.j) = 3) AS maybe
        FROM cells LEFT JOIN bits b ON b.j = cells.j AND b.c = cells.c
        GROUP BY doc_id, g),
      per AS (SELECT doc_id, COUNT(*) AS n_distinct_grams,
          SUM(CASE WHEN maybe THEN 1 ELSE 0 END) AS n_maybe
        FROM mb GROUP BY 1),
      conf AS (SELECT doc_id, COUNT(*) AS n_contam FROM mb
        WHERE maybe AND g IN (SELECT g FROM bgr) GROUP BY 1)
      SELECT d.doc_id,
        CAST(COALESCE(per.n_distinct_grams, 0) AS BIGINT)
          AS n_distinct_grams,
        CAST(COALESCE(per.n_maybe, 0) AS BIGINT) AS n_maybe,
        CAST(COALESCE(conf.n_contam, 0) AS BIGINT) AS n_contam
      FROM documents d LEFT JOIN per USING (doc_id)
      LEFT JOIN conf USING (doc_id)
      ORDER BY doc_id ASC"""))

  /** q99: STREAMING HLL distinct sources per destination AS — live
    * bounded-state cardinality over a replayed feed
    * (StreamingSketch.hllUpdates, transformWithState register state),
    * checked against the same bit-exact DuckDB sketch replay as the
    * batch q93. The spool symlinks the events file TWICE with
    * maxFilesPerTrigger=1: two genuine micro-batches whose second is a
    * full re-delivery — register max is idempotent, so the merged
    * state (MAX over emissions) still equals the single-pass batch
    * sketch, which is exactly what an at-least-once source needs and
    * exactly what the oracle asserts. */
  private val q99 = Q(
    "q99_stream_hll",
    (s, dir) => {
      import graft.operators.Sketches
      import graft.streaming.StreamingSketch
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q99_stream_$pid")
      val spool = new java.io.File(base, s"spool-$run")
      spool.mkdirs()
      // two copies of the table in the spool = the duplicate replay
      val nParts = linkIntoSpool(spool, s"$dir/events.parquet",
        copies = 2)
      val schema = s.read.parquet(s"$dir/events.parquet").schema
      withStreamParts(s) { withRocksDb(s) {
        // cap per-trigger files at one COPY of the input: at least two
        // micro-batches however the listing splits, without one-batch-
        // per-file overhead on many-part directories
        val events = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", nParts.toString)
          .parquet(spool.getAbsolutePath)
        val sunk = runStreamToMemory(s, s"q99_sink_$run",
          new java.io.File(base, s"ckpt-$run"))(
          StreamingSketch.hllUpdates(TestFlowView.fromEvents(events),
            "dst_as", "ip4_src_addr", 8).toDF())
        val regs = sunk
          .groupBy(col("key").as("dst_as"), col("reg"))
          .agg(max(col("rho")).as("rho"))
        Sketches.estimateFromRegisters(regs, Seq("dst_as"), 8)
          .orderBy(col("dst_as").asc)
      } }
    },
    Some(s"""WITH $F,
      hsrc AS (SELECT dst_as, ip4_src_addr AS hv FROM flow),
      ${OracleSql.hllCtes(Seq("dst_as"), 8, "hsrc")}
      SELECT dst_as, n_obs, est FROM hest ORDER BY dst_as ASC"""))

  /** q100: exactly-n-per-stratum deterministic sample (eval-set
    * construction: 20 docs per language, md5-ranked). The SPARK side
    * runs the PRUNED plan — hash threshold from broadcast stratum
    * sizes, ~4n rows per stratum reach the window instead of all of
    * them, shortfall strata (none in practice) re-rank unpruned — while
    * the oracle replays the naive full-sort rank; the hash match IS the
    * losslessness proof of the prune. */
  private val q100 = Q(
    "q100_stratified_sample",
    (s, dir) => {
      import graft.operators.Curation
      Curation.stratifiedSample(
          t(s, dir, "documents").select("doc_id", "lang"),
          "doc_id", "lang", n = 20)
        .select(col("doc_id"), col("lang"),
          col("sample_rank").cast(LongType).as("sample_rank"))
        .orderBy(col("lang").asc, col("sample_rank").asc)
    },
    Some("""WITH h AS (SELECT doc_id, lang,
          CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) AS h
        FROM documents),
      r AS (SELECT doc_id, lang,
          row_number() OVER (PARTITION BY lang
            ORDER BY h ASC, doc_id ASC) AS sample_rank
        FROM h)
      SELECT doc_id, lang, CAST(sample_rank AS BIGINT) AS sample_rank
      FROM r WHERE sample_rank <= 20
      ORDER BY lang ASC, sample_rank ASC"""))

  /** q101: STREAMING Count-Min heavy hitters — the live form of q94,
    * deliberately built from NOTHING but Spark built-ins: the d×w cell
    * projection feeds a streaming groupBy-sum (update mode), the
    * engine's own aggregation state IS the sketch (d·w counters
    * forever, merged across micro-batches by the state store). Counts
    * are monotone, so MAX over the update-mode emissions reconstructs
    * the final grid, and the heavy-hitter filter over it must equal
    * the batch q94 bit-for-bit — same oracle text. The spool splits
    * events into two REAL halves (event_id parity), so cross-batch
    * state merge is exercised with genuinely different data, unlike
    * q99's idempotent re-delivery. */
  private val q101 = Q(
    "q101_stream_cms",
    (s, dir) => {
      import graft.operators.Sketches
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q101_stream_$pid")
      val spool = new java.io.File(base, s"spool-$run")
      spool.mkdirs()
      val ev = s.read.parquet(s"$dir/events.parquet")
      // 4 part files per half: the spool write stays parallel at any
      // sf (a coalesce(1) wrote sf1.0's half-corpus single-threaded
      // and dominated the sweep time). Per-trigger cap of 4 files
      // guarantees ≥ 2 micro-batches; whether a trigger mixes halves
      // is irrelevant to the additive merge under test.
      for (par <- Seq(0, 1))
        ev.filter(col("event_id") % 2 === par).repartition(4)
          .write.mode("overwrite")
          .parquet(s"${spool.getAbsolutePath}/half-$par")
      val schema = ev.schema
      val events = s.readStream.schema(schema)
        .option("maxFilesPerTrigger", "4")
        .parquet(s"${spool.getAbsolutePath}/half-*")
      val grid = Sketches.cmsSketch(TestFlowView.fromEvents(events),
        "l4_dst_port", 4, 1024)
      val sunk = withStreamParts(s)(runStreamToMemory(s,
        s"q101_sink_$run",
        new java.io.File(base, s"ckpt-$run"), outputMode = "update")(
        grid))
      val finalGrid = sunk.groupBy(col("j"), col("c"))
        .agg(max(col("cnt")).as("cnt"))
      val flow = TestFlowView.load(s, dir)
      val cands = flow.select(col("l4_dst_port")).distinct()
      Sketches.cmsEstimate(finalGrid, cands, "l4_dst_port", 4, 1024)
        .filter(col("est") >= 50L)
        .orderBy(col("est").desc, col("l4_dst_port").asc)
    },
    // the batch q94 oracle verbatim: streaming must reconstruct it
    Some(s"""WITH $F,
      csrc AS (SELECT l4_dst_port AS v FROM flow),
      ccand AS (SELECT DISTINCT l4_dst_port AS v FROM flow),
      ${OracleSql.cmsCtes(4, 1024)}
      SELECT v AS l4_dst_port, est FROM cest WHERE est >= 50
      ORDER BY est DESC, l4_dst_port ASC"""))

  /** q102: incremental corpus admission — dedup the DAILY INCREMENT
    * against the archive without re-clustering the corpus
    * (Dedup.incrementalAdmit: digest anti-join → cross-corpus LSH
    * candidates → exact-Jaccard verify). Here src0 plays the arriving
    * crawl against the other 19 sources; at sf0.01 two src0 docs are
    * true near-dups of archive docs (j ≈ 0.97/0.99) and must be
    * refused. The oracle replays admission semantically: text-equal OR
    * a verified cross-corpus candidate pair ⇒ refused. */
  private val q102 = Q(
    "q102_incremental_admit",
    (s, dir) => {
      import graft.operators.Dedup
      val docs = t(s, dir, "documents")
      Dedup.incrementalAdmit(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", minBp = 9500L)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH ${OracleSql.minhashPairsCtes},
      ${OracleSql.jaccardVerifyCtes(3, 9500L)},
      refused AS (
        SELECT doc_id FROM documents
        WHERE source = 'src0' AND text IN
          (SELECT text FROM documents WHERE source <> 'src0')
        UNION
        SELECT CASE WHEN da.source = 'src0' THEN v.a ELSE v.b END
          AS doc_id
        FROM verified v
        JOIN documents da ON da.doc_id = v.a
        JOIN documents db ON db.doc_id = v.b
        WHERE (da.source = 'src0') <> (db.source = 'src0'))
      SELECT doc_id, lang, n_chars FROM documents
      WHERE source = 'src0'
        AND doc_id NOT IN (SELECT doc_id FROM refused)
      ORDER BY doc_id ASC"""))

  /** q103: windowed distinct-source spike detection — the DDoS-shaped
    * composition: per (day window, dst_as), the HLL distinct-source
    * estimate next to the exact count and an overlimit flag at a fixed
    * threshold. The reference reaches this with an exact per-window
    * DISTINCT inside one collector (monit-objects-fwm.c) + mavg
    * limits; at cluster scale the estimate column is the one that
    * survives (bounded state per key·window), and carrying BOTH
    * columns oracled means the sketch error is pinned at every window,
    * not just globally (q93's stance, windowed). Flag thresholds use
    * the EXACT count so the oracle row is decision-grade: the row
    * shows precisely where the estimate would and would not have
    * changed the decision. */
  private val q103 = Q(
    "q103_distinct_threshold",
    (s, dir) => {
      import graft.operators.Sketches
      val flow = TestFlowView.load(s, dir)
        .withColumn("win", col("ts_sec") - (col("ts_sec") % 86400L))
      val est = Sketches.hllEstimate(flow, Seq("win", "dst_as"),
        "ip4_src_addr", 8)
      val exact = flow.groupBy(col("win"), col("dst_as"))
        .agg(countDistinct(col("ip4_src_addr")).as("exact"))
      est.join(exact, Seq("win", "dst_as"))
        .select(col("win"), col("dst_as"), col("n_obs"), col("est"),
          col("exact"),
          (col("exact") >= 40L).cast("int").cast(LongType)
            .as("overlimit"))
        .orderBy(col("win").asc, col("dst_as").asc)
    },
    Some(s"""WITH $F,
      fw AS (SELECT ts_sec - (ts_sec % 86400) AS win, dst_as,
               ip4_src_addr
             FROM flow),
      hsrc AS (SELECT win, dst_as, ip4_src_addr AS hv FROM fw),
      ${OracleSql.hllCtes(Seq("win", "dst_as"), 8, "hsrc")},
      x AS (SELECT win, dst_as,
              CAST(COUNT(DISTINCT ip4_src_addr) AS BIGINT) AS exact
            FROM fw GROUP BY 1, 2)
      SELECT e.win, e.dst_as, n_obs, est, exact,
             CAST(CASE WHEN exact >= 40 THEN 1 ELSE 0 END AS BIGINT)
               AS overlimit
      FROM hest e JOIN x USING (win, dst_as)
      ORDER BY e.win ASC, e.dst_as ASC"""))

  /** q104: the bucketed-archive join, driver-oracled — write orders
    * and lineitem co-bucketed on the order key (one file per bucket),
    * join them WITHOUT any join-side exchange, and aggregate. The
    * query itself REQUIRES the plan property (exactly one hash
    * exchange: the aggregation's; broadcast disabled for the join so
    * the co-located SortMergeJoin is what actually runs) — a
    * regression in the bucketing contract fails the run loudly instead
    * of silently re-shuffling. The oracle is the plain join in DuckDB:
    * identical results from a plan that never shuffles the fact side
    * is the point. */
  private val q104 = Q(
    "q104_bucketed_join",
    (s, dir) => {
      import graft.sources.Bucketing
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      // per-process scratch warehouse (tmpWorkDir cleans it at exit);
      // per-run DATABASE so Bench reruns never collide mid-overwrite
      val db = s"graft_bucket_${pid}_$run"
      val loc = new java.io.File(tmpWorkDir(s"graft_q104_$pid"), db)
      s.sql(s"CREATE DATABASE IF NOT EXISTS $db " +
        s"LOCATION '${loc.toURI}'")
      val old = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        Bucketing.writeBucketed(t(s, dir, "orders"),
          s"$db.orders_b", Seq("o_orderkey"), 8)
        Bucketing.writeBucketed(t(s, dir, "lineitem"),
          s"$db.lineitem_b", Seq("l_orderkey"), 8)
        val joined = s.table(s"$db.lineitem_b")
          .join(s.table(s"$db.orders_b"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"),
            sum(col("l_quantity").cast(LongType)).cast(LongType)
              .as("qty"))
          .orderBy(col("o_orderpriority").asc)
        val plan = joined.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin"),
          s"bucketed join must merge co-located buckets:\n$plan")
        require("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
          s"only the aggregation may shuffle:\n$plan")
        // materialize before the conf/bracket unwinds and the next
        // run's overwrite replaces the tables underneath the plan
        joined.localCheckpoint()
      } finally {
        s.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        s.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      }
    },
    Some("""SELECT o_orderpriority,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY o_orderpriority ASC"""))

  /** q105: BPE vocabulary training — the learned merge sequence over
    * the documents corpus (6 merges), bit-for-bit engine-independent:
    * the oracle unrolls every stage (pair counts → deterministic
    * winner → leftmost-non-overlapping fold) as generated CTEs. The
    * corpus collapses to distinct word frequencies ONCE; each merge is
    * one aggregation over the word table plus a 1-row winner collect —
    * the iterative-training workload shape (like q57's k-means) on the
    * text side. */
  private val q105 = Q(
    "q105_bpe_vocab",
    (s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", 6)
        .orderBy(col("step").asc)
    },
    Some(s"""WITH ${OracleSql.bpeCtes(6)}
      SELECT * FROM (
      ${OracleSql.bpeUnion(6)}
      ) ORDER BY step ASC"""))

  /** q106: BPE ENCODING — the corpus token histogram after applying
    * q105's learned merges (the vocabulary-usage view a tokenizer
    * ships with). The oracle's final stage CTE (bw6, the fully-merged
    * word table) already exists inside OracleSql.bpeCtes; the
    * histogram is one unnest + weighted sum over it — training and
    * encoding proven consistent from ONE generated SQL chain. */
  private val q106 = Q(
    "q106_bpe_encode",
    (s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.bpeVocab(t(s, dir, "documents"), "text", 6)
        .orderBy(col("freq").desc, col("token").asc)
    },
    Some(s"""WITH ${OracleSql.bpeCtes(6)}
      SELECT s AS token, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT freq, unnest(syms) AS s FROM bw6)
      GROUP BY 1 ORDER BY freq DESC, token ASC"""))

  /** q107: as-of enrichment INSIDE the streaming decode pipeline —
    * decoded flows stream-static-join the broadcast version history
    * (AsOfJoin.backwardBroadcast: zero fact shuffle works unchanged
    * under micro-batch) and aggregate into watermark-closed windows.
    * The sampling-rate version flips at ts 1700000030, MID-window, so
    * the middle window emits one row per rate — proof the enrichment
    * is per-FLOW at event time, not per-window. Same sentinel/flush
    * mechanics as q81. */
  private val q107 = Q(
    "q107_stream_asof",
    (s, dir) => {
      import graft.operators.AsOfJoin
      import graft.sources.NetflowDecoder
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q107_stream_$pid")
      val spool = authorV9Spool(base, run)
      val ns = s"q107-$pid-$run"
      NetflowDecoder.clearStreamCache(ns)
      val dim = s.createDataFrame(
        java.util.Arrays.asList(
          org.apache.spark.sql.Row(1L, 1700000000L, 2L),
          org.apache.spark.sql.Row(1L, 1700000030L, 5L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("dev_ip",
            org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("vt",
            org.apache.spark.sql.types.LongType, false),
          org.apache.spark.sql.types.StructField("rate",
            org.apache.spark.sql.types.LongType, false))))
      try {
        val flows = NetflowDecoder.decodeStream(
            s.readStream.format("pktdump").load(spool.getAbsolutePath),
            ns)
          .select("dev_ip", "ts_sec", "in_bytes")
        val enriched = AsOfJoin.backwardBroadcast(flows, dim,
          Seq("dev_ip"), "ts_sec", "vt")
        val agged = enriched
          .withColumn("ts", timestamp_seconds(col("ts_sec")))
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "30 seconds").as("w"), col("rate"))
          .agg(count(lit(1)).as("n"),
            sum(col("in_bytes") * col("rate")).as("octets"))
          .select(unix_timestamp(col("w.start")).as("win"), col("rate"),
            col("n"), col("octets").cast(LongType).as("octets"))
        val sunk = withStreamParts(s)(runStreamToMemory(s,
          s"q107_sink_$run",
          new java.io.File(base, s"ckpt-$run"))(agged))
        val frozen = sunk.filter(col("win") < 1700000100L)
        val cnt = frozen.count()
        require(cnt == 4,
          s"q107 sink has $cnt rows, expected 4 (the middle window " +
            "splits by rate) — watermark flush or asof enrichment " +
            "regressed")
        frozen.orderBy(col("win").asc, col("rate").asc)
      } finally NetflowDecoder.clearStreamCache(ns)
    },
    Some("""WITH flows AS (
        SELECT 1700000000 + i AS ts_sec, 100 + i AS in_bytes
        FROM range(64) t(i)),
      e AS (SELECT ts_sec - (ts_sec % 30) AS win,
              CASE WHEN ts_sec >= 1700000030 THEN 5 ELSE 2 END AS rate,
              in_bytes
            FROM flows)
      SELECT CAST(win AS BIGINT) AS win, CAST(rate AS BIGINT) AS rate,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(in_bytes * rate) AS BIGINT) AS octets
      FROM e GROUP BY 1, 2
      ORDER BY win ASC, rate ASC"""))

  /** q108: DEEP BPE training — the batched trainer at a tokenizer-real
    * request size (numMerges = 256, far past r11's 64-merge
    * demonstrator cap), oracled end to end. The corpus's 31-word
    * vocabulary exhausts all mergeable pairs at 89 merges (every
    * distinct word collapses to one symbol), so the oracle unrolls 120
    * stages — strictly past exhaustion, where each further stage is the
    * identity pass-through bpeCtes pins — and replays the COMPLETE
    * learned sequence; if a corpus mutation ever pushed exhaustion past
    * 120, the row-count compare fails loudly instead of silently
    * truncating. The Spark side trains in batched rounds
    * (symbol-disjoint greedy-safe batches, sequence-identical to the
    * strict per-merge algorithm — BpeSpec's differential proof), so
    * jobs-per-merge is sub-linear while the per-merge CTE replay stays
    * the bit-exact oracle. */
  private val q108 = Q(
    "q108_bpe_deep",
    (s, dir) => {
      import graft.operators.TextAnalysis
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", 256)
        .orderBy(col("step").asc)
    },
    Some(s"""WITH ${OracleSql.bpeCtes(120)}
      SELECT * FROM (
      ${OracleSql.bpeUnion(120)}
      ) ORDER BY step ASC"""))

  /** q109: the STREAMING alert lifecycle end-to-end, driver-oracled —
    * q82's exact series driven through [[AlertTimelineStream]] (the
    * event-time-timer replay of the reference's act/underlimit-scanner
    * threads: per-key timer chains tick the grid, the WATERMARK decides
    * when a tick is complete, so the live path is deterministic) with
    * a REAL stop/restart from the checkpoint mid-trace: the first
    * query run sees only the grid's first half (4 chunk files), stops,
    * the rest of the trace arrives, and a second run resumes from the
    * RocksDB checkpoint — started/updated/ended events from BOTH runs
    * must splice into the identical timeline the batch replay (q82)
    * derives, asserted against the SAME recursive-CTE oracle text.
    * This closes the one lifecycle gap q82 left: q82 proves the
    * machine's semantics offline; q109 proves the STREAMING estate —
    * state encoding, timer recovery, watermark resumption — preserves
    * them across a restart. */
  private val q109 = Q(
    "q109_stream_alerts",
    (s, dir) => {
      import graft.streaming.AlertTimelineStream
      import graft.streaming.AlertTimelineStream.Tick
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q109_stream_$pid")
      val spool = new java.io.File(base, s"spool-$run")
      spool.mkdirs()
      // q82's series + grid constants, verbatim (see q82)
      val flow = TestFlowView.load(s, dir)
        .select(col("ts_sec"), col("src_as"), col("in_bytes"))
      val b = flow.agg(min("ts_sec"), max("ts_sec"),
        sum("in_bytes")).head()
      val (mn, mx, tot) = (b.getLong(0), b.getLong(1), b.getLong(2))
      val w = (mx - mn + 240L) / 240L
      val lim = (tot * 3L) / 3840L
      val epoch0 = 1700000000L
      val series = flow
        .groupBy(col("src_as"),
          expr(s"(ts_sec - ${mn}L) DIV ${w}L").as("idx"))
        .agg(sum("in_bytes").as("v"))
        .select(timestamp_seconds(lit(epoch0) + col("idx")).as("ts"),
          col("src_as").as("key"), col("idx").cast(LongType).as("idx"),
          col("v").cast("double").as("v"), lit(lim.toDouble).as("lim"))
        .localCheckpoint() // authored chunk-by-chunk below; compute once
      // tick-ordered chunk files (30 ticks each, monotone mtimes →
      // FileStreamSource reads them in grid order; one per micro-batch)
      def author(chunk: Int, df: DataFrame): Unit = {
        val tmp = new java.io.File(base, s"stage-$run-$chunk")
        df.coalesce(1).write.mode("overwrite")
          .parquet(tmp.getAbsolutePath)
        val part = tmp.listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = new java.io.File(spool, f"chunk-$chunk%03d.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        dst.setLastModified(1_700_000_000_000L + chunk * 60_000L)
      }
      def chunkDf(c: Int): DataFrame =
        series.filter(col("idx") >= c * 30L && col("idx") < (c + 1) * 30L)
      // authoring constant (r22, guide §1.2): one partitioned write
      // job per PHASE instead of one coalesce(1) job per chunk — the
      // 8 chunk jobs were ~0.1 s of scheduler/commit constants each
      // around a few KB of data. A single task (coalesce(1)) writes
      // every __chunk=c directory, so each chunk still lands as
      // exactly one part file; the partition column is not written,
      // so file schema/content are byte-compatible with the per-chunk
      // author. An EMPTY chunk writes no directory — the per-chunk
      // author is the fallback for that case (it writes the
      // schema-only file the old path always produced), so spool
      // contents stay identical at any scale factor.
      def authorRange(lo: Int, hi: Int): Unit = {
        val tmp = new java.io.File(base, s"stage-$run-$lo-$hi")
        series.filter(col("idx") >= lo * 30L && col("idx") < hi * 30L)
          .withColumn("__chunk", expr("CAST(idx DIV 30 AS INT)"))
          .coalesce(1).write.mode("overwrite").partitionBy("__chunk")
          .parquet(tmp.getAbsolutePath)
        for (c <- lo until hi) {
          val dir = new java.io.File(tmp, s"__chunk=$c")
          Option(dir.listFiles()).toSeq.flatten
            .find(_.getName.endsWith(".parquet")) match {
            case Some(part) =>
              val dst = new java.io.File(spool, f"chunk-$c%03d.parquet")
              java.nio.file.Files.move(part.toPath, dst.toPath)
              dst.setLastModified(1_700_000_000_000L + c * 60_000L)
            case None => author(c, chunkDf(c)) // empty chunk at tiny SF
          }
        }
      }
      authorRange(0, 4)
      val schema = s.read.parquet(spool.getAbsolutePath).schema
      // the memory sink cannot RECOVER from a checkpoint (phase 2 is
      // exactly that), so events land in a driver buffer via
      // foreachBatch — bounded: the buffer holds timeline EVENTS (the
      // q82 output, hundreds of rows), never series data
      def phase(): Seq[org.apache.spark.sql.Row] =
        withStreamParts(s) { withRocksDb(s) {
        import s.implicits._
        val input = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(spool.getAbsolutePath)
          .withWatermark("ts", "0 seconds")
          // the sentinel (key=-1, idx=241) flows THROUGH to the
          // processor: its only job is to drive the watermark past the
          // grid end, and a DataFrame-level key filter here would be
          // pushed below EventTimeWatermark by
          // PushPredicateThroughNonJoin (the predicate doesn't touch
          // ts), dropping the row before its event time is sampled —
          // ticks after the last data tick would then never fire. The
          // processor's idx∈[0,nTicks) guard ignores it statelessly.
          .select("key", "idx", "v", "lim").as[Tick]
        // regression guard: no row filter may appear anywhere in this
        // chain — Catalyst would push a key predicate below
        // EventTimeWatermark (it doesn't reference ts) and the
        // sentinel would be dropped before its event time is sampled
        require(!input.queryExecution.analyzed.exists(
            _.isInstanceOf[
              org.apache.spark.sql.catalyst.plans.logical.Filter]),
          "q109: row filter found in the pre-watermark chain; the " +
            "sentinel must reach EventTimeWatermarkExec unfiltered")
        val events = AlertTimelineStream(input, nTicks = 240,
          epoch0 = epoch0, windowTicks = 8, back2normTicks = 2).toDF()
        val got = new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.Row]()
        val q = events.writeStream
          .outputMode("append")
          .option("checkpointLocation",
            new java.io.File(base, s"ckpt-$run").getAbsolutePath)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach(got.add); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        require(q.recentProgress.exists(_.numInputRows > 0),
          "q109 phase must execute through the micro-batch engine")
        scala.jdk.CollectionConverters.CollectionHasAsScala(got)
          .asScala.toSeq
      } }
      val p1 = phase()
      require(p1.nonEmpty,
        "q109 phase 1 emitted no events — the event-time timer chain " +
          "did not fire while only half the trace existed (watermark " +
          "or timer regression?)")
      // mid-trace restart: the grid's second half + the sentinel exist
      // only AFTER the first query stopped
      authorRange(4, 8)
      author(8, s.range(1).select(
        timestamp_seconds(lit(epoch0 + 241L)).as("ts"),
        lit(-1L).as("key"), lit(241L).as("idx"),
        lit(0.0).as("v"), lit(lim.toDouble).as("lim")))
      val p2 = phase()
      val outSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("src_as", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("t", LongType,
          nullable = false),
        org.apache.spark.sql.types.StructField("ev",
          org.apache.spark.sql.types.StringType, nullable = false),
        org.apache.spark.sql.types.StructField("val",
          org.apache.spark.sql.types.DoubleType, nullable = false)))
      s.createDataFrame(
          java.util.Arrays.asList((p1 ++ p2).map(r =>
            org.apache.spark.sql.Row(r.getLong(0), r.getLong(1),
              r.getString(2), r.getDouble(3))): _*),
          outSchema)
        .orderBy(col("src_as").asc, col("t").asc)
    },
    Some(alertTimelineOracle))

  /** q110: residual IVF-PQ (q90's composition with residual codes —
    * PQ quantizes v − c(v), the 100 TB-recall-target standard). Every
    * stage is integer-exact: the residual of two quantized vectors is
    * an exact BIGINT array, and the shared-codebook training runs the
    * same Lloyd recurrence on it (identity quantization), so DuckDB
    * replays coarse training, residual computation, codebook training,
    * encoding and the PER-PROBED-LIST ADC tables bit-for-bit. The
    * recall differential vs raw codes (0.5 vs 0.3 @10 on the test
    * embeddings) is pinned by ResidualPqSpec. */
  private val q110 = Q(
    "q110_ivfpq_residual",
    (s, dir) => {
      import graft.operators.Similarity
      Similarity.ivfPqSearchResidual(t(s, dir, "embeddings"), "vec_id",
          "embedding", coarseK = 4, coarseIters = 2, m = 4, pqK = 4,
          pqIters = 2, nprobe = 2, queryId = 0L, dim = 64, topK = 10)
        .select(col("id").as("vec_id"), col("adist"))
    },
    Some(s"""WITH ${OracleSql.ivfPqResidualCtes(4, 2, 4, 4, 2, 64,
        1000000L, 0L, 2)}
      SELECT id AS vec_id, adist FROM radc
      ORDER BY adist ASC, vec_id ASC LIMIT 10"""))

  // ------------------------------------- multi-fwm shared scan (one pass)
  private val q111 = Q(
    "q111_fwm_shared_scan",
    (s, dir) => {
      import graft.config.MoConfig
      import graft.operators.SharedFwm
      val env = FilterEnv.flow(s)
      // an MO tree with three fwm sections — two on the root, one on a
      // filtered child (parent-conjoined predicate) — evaluated in ONE
      // pass: one parquet scan, one shuffle (reference netflow.c:
      // 214-244 dispatches every flow to every MO in a single pass;
      // Fwm.batch alone would plan three scans)
      val tree = MoConfig.MonitoringObject(
        name = "all", filter = "",
        fwm = Seq(
          MoConfig.FwmSection("hourly", Seq("octets desc", "proto"),
            timeSec = 3600, limit = None, extended = false),
          MoConfig.FwmSection("pkts2h", Seq("packets desc", "dst as"),
            timeSec = 7200, limit = None, extended = false)),
        mavg = Nil, classification = Nil,
        children = Seq(MoConfig.MonitoringObject(
          name = "tcp", filter = "proto 6",
          fwm = Seq(MoConfig.FwmSection("tcp_hourly",
            Seq("octets desc", "src port"), timeSec = 3600,
            limit = None, extended = false)),
          mavg = Nil, classification = Nil, children = Nil)))
      val secs = SharedFwm.sections(tree, env)
      val combined = SharedFwm.batchAll(TestFlowView.load(s, dir), env,
        secs, samplingRate = Some(col("sampling_rate")))
      // the shared-scan invariant IS the operator: exactly one file
      // scan in the physical plan for all three sections
      require(SharedFwm.countScans(combined) == 1,
        "shared fwm pass must plan exactly one scan")
      combined.orderBy(col("mo").asc, col("section").asc,
        col("time").asc, col("proto").asc_nulls_first,
        col("dst_as").asc_nulls_first, col("src_port").asc_nulls_first)
    },
    Some(s"""WITH $F,
      u AS (
        SELECT 'all' AS mo, 'hourly' AS section,
               ts_sec - (ts_sec % 3600) AS time,
               protocol AS proto, CAST(NULL AS BIGINT) AS dst_as,
               CAST(NULL AS BIGINT) AS src_port,
               CAST(SUM(in_bytes * 1 * sampling_rate) AS BIGINT)
                 AS octets,
               CAST(NULL AS BIGINT) AS packets
        FROM flow GROUP BY 1, 2, 3, 4
        UNION ALL
        SELECT 'all' AS mo, 'pkts2h' AS section,
               ts_sec - (ts_sec % 7200) AS time,
               CAST(NULL AS BIGINT) AS proto, dst_as,
               CAST(NULL AS BIGINT) AS src_port,
               CAST(NULL AS BIGINT) AS octets,
               CAST(SUM(in_pkts * 1 * sampling_rate) AS BIGINT)
                 AS packets
        FROM flow GROUP BY 1, 2, 3, 5
        UNION ALL
        SELECT 'tcp' AS mo, 'tcp_hourly' AS section,
               ts_sec - (ts_sec % 3600) AS time,
               CAST(NULL AS BIGINT) AS proto,
               CAST(NULL AS BIGINT) AS dst_as,
               l4_src_port AS src_port,
               CAST(SUM(in_bytes * 1 * sampling_rate) AS BIGINT)
                 AS octets,
               CAST(NULL AS BIGINT) AS packets
        FROM flow WHERE protocol = 6 GROUP BY 1, 2, 3, 6)
      SELECT mo, section, time, proto, dst_as, src_port, octets, packets
      FROM u
      ORDER BY mo ASC, section ASC, time ASC,
               proto ASC NULLS FIRST, dst_as ASC NULLS FIRST,
               src_port ASC NULLS FIRST"""))

  // --------------------------------------- streaming shared scan (q112)
  /** q112 orales the STREAMING half of the shared-scan fwm: q81's exact
    * spool harness (v9 decode stream → watermarked windows → AvailableNow
    * flush) but through [[graft.streaming.Pipeline.buildSharedFwm]] — an
    * MO tree with THREE fwm sections sharing one 30 s window runs as ONE
    * streaming query (one state store, one pass of the source) instead of
    * three queries each re-reading the stream. The DuckDB oracle
    * recomputes all three sections independently.
    *
    * The udp child is the timelier-close witness: its own traffic is the
    * ODD-i flows (last at ts 1700000063), so the per-section query this
    * replaces — which filters udp before its own watermark — would hold
    * udp's [1700000040, 1700000070) window open forever (its private
    * watermark never passes 1700000070). The shared group's watermark is
    * the STREAM's clock, advanced by the proto-6 sentinel at 1700000100,
    * so that window closes and IS in the oracle's expectation — the
    * reference's bank swap flushes every MO's windows on the shared
    * clock (monit-objects-fwm.c:665-682), which makes the shared group
    * the faithful shape, not an approximation. */
  private val q112 = Q(
    "q112_stream_shared_fwm",
    (s, dir) => {
      import graft.config.MoConfig
      import graft.sources.NetflowDecoder
      import graft.streaming.Pipeline
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q112_stream_$pid")
      val spool = authorV9Spool(base, run)
      val ns = s"q112-$pid-$run"
      NetflowDecoder.clearStreamCache(ns)
      val env = FilterEnv.flow(s)
      val tree = MoConfig.MonitoringObject(
        name = "all", filter = "",
        fwm = Seq(
          MoConfig.FwmSection("by_src", Seq("octets desc", "src host"),
            timeSec = 30, limit = None, extended = false),
          MoConfig.FwmSection("by_proto", Seq("octets desc", "proto"),
            timeSec = 30, limit = None, extended = false)),
        mavg = Nil, classification = Nil,
        children = Seq(MoConfig.MonitoringObject(
          name = "udp", filter = "proto 17",
          fwm = Seq(MoConfig.FwmSection("udp_src",
            Seq("octets desc", "src host"), timeSec = 30,
            limit = None, extended = false)),
          mavg = Nil, classification = Nil, children = Nil)))
      val flows = NetflowDecoder.decodeStream(
          s.readStream.format("pktdump").load(spool.getAbsolutePath), ns)
        .withColumn("ts", timestamp_seconds(col("ts_sec")))
      try {
        val groups = Pipeline.buildSharedFwm(tree, flows, env)
        // the shared-scan invariant, streaming form: ONE query (one
        // window length group) covers the whole 3-section tree
        require(groups.size == 1 && groups.head.sections.size == 3,
          s"q112: expected one 3-section group, got " +
            groups.map(g => g.timeSec -> g.sections.size).toString)
        val sunk = withStreamParts(s)(runStreamToMemory(s,
          s"q112_sink_$run",
          new java.io.File(base, s"ckpt-$run"))(groups.head.combined))
        // sentinel window defensively excluded (never emitted anyway)
        val frozen = sunk.filter(col("time") < 1700000100L)
        val cnt = frozen.count()
        // by_src 10+16+16 + by_proto 2+2+2 + udp_src 5+8+8 = 69; udp's
        // LAST window (8 rows) is the shared-clock close — a per-section
        // query would still hold it open
        require(cnt == 69,
          s"q112 sink has $cnt rows, expected 69 closed-window rows " +
            "across the three sections")
        require(frozen.filter(col("section") === "udp_src" &&
            col("time") === 1700000040L).count() == 8,
          "q112: udp's last window must close on the SHARED stream " +
            "clock (timelier-close semantic)")
        frozen.orderBy(col("mo").asc, col("section").asc,
          col("time").asc, col("src_host").asc_nulls_first,
          col("proto").asc_nulls_first)
      } finally {
        NetflowDecoder.clearStreamCache(ns)
      }
    },
    Some("""WITH flows AS (
        SELECT 1700000000 + i AS ts_sec,
               CASE WHEN i % 2 = 0 THEN 6 ELSE 17 END AS protocol,
               100 + i AS in_bytes,
               167772160 + (i % 16) AS src_host
        FROM range(64) t(i)),
      u AS (
        SELECT 'all' AS mo, 'by_src' AS section,
               ts_sec - (ts_sec % 30) AS time, src_host,
               CAST(NULL AS BIGINT) AS proto,
               CAST(SUM(in_bytes) AS BIGINT) AS octets
        FROM flows GROUP BY 1, 2, 3, 4
        UNION ALL
        SELECT 'all' AS mo, 'by_proto' AS section,
               ts_sec - (ts_sec % 30) AS time,
               CAST(NULL AS BIGINT) AS src_host, protocol AS proto,
               CAST(SUM(in_bytes) AS BIGINT) AS octets
        FROM flows GROUP BY 1, 2, 3, 5
        UNION ALL
        SELECT 'udp' AS mo, 'udp_src' AS section,
               ts_sec - (ts_sec % 30) AS time, src_host,
               CAST(NULL AS BIGINT) AS proto,
               CAST(SUM(in_bytes) AS BIGINT) AS octets
        FROM flows WHERE protocol = 17 GROUP BY 1, 2, 3, 4)
      SELECT mo, section, CAST(time AS BIGINT) AS time,
             CAST(src_host AS BIGINT) AS src_host, proto, octets
      FROM u
      ORDER BY mo ASC, section ASC, time ASC,
               src_host ASC NULLS FIRST, proto ASC NULLS FIRST"""))

  // --------------------------------------------- underlimit oracle (q113)
  /** q113 drives the REAL silent-key underlimit path end to end: the
    * reference's dedicated underlimit scanner thread walks every watched
    * key each second and raises an alert when its decayed rate sits at or
    * below the limit (monit-objects-mavg-under.c:34-343 — silence IS the
    * alert condition, which is why it needs ticks without traffic). The
    * Spark shape is [[graft.streaming.MavgStream]]'s per-key
    * processing-time timeouts.
    *
    * Two keys stream live wall-clock traffic, and the oracle covers the
    * FULL lifecycle: `quiet` sends a healthy burst, goes silent — only
    * its per-key TIMEOUT can notice (no arrivals while silent) — fires
    * its underlimit `start`, then its traffic RESUMES above the limit
    * and the scanner's per-scan value refresh lets hysteresis close
    * the episode with `end` (monit-objects-mavg-under.c:57-66 + the
    * act thread's back2norm script path). `healthy` keeps sending
    * above the limit the whole run and must emit nothing. The
    * deterministic content is the EVENT SET — exactly one start and
    * one end for `quiet`, nothing for `healthy`; tick VALUES ride the
    * wall clock (the reference's scanner does too), so magnitudes are
    * pinned instead by MavgStreamSpec on the operator's step core. */
  private val q113 = Q(
    "q113_mavg_underlimit",
    (s, dir) => {
      import graft.streaming.MavgStream
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q113_under_$pid")
      withStreamParts(s) {
        import s.implicits._
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        val mem = MemoryStream[MavgStream.Input]
        // windowSec 5: `quiet` fully decays ~5 s after its last row (the
        // timeout then seeds the underlimit entry; the next 200 ms tick
        // fires Started), while a false positive for `healthy` — fed
        // every ~100 ms at far above the limit — would need a FIVE
        // second gap between folded arrivals and a tick. Sized for the
        // shared driver JVM: bench sessions have shown multi-second
        // stalls (SCALE.md q102 control), and a stall here would turn
        // a correct negative (healthy never alerts while fed) into a
        // red row
        // back2norm 1 s: the end fires about a second after quiet's
        // recovered rate is first scanned (short enough to keep the
        // run ~8 s, long enough that several 200 ms ticks see the
        // recovery before the clock expires)
        val conf = MavgStream.Conf(windowSec = 5L,
          defaultLimits = Seq(10.0), back2normSec = 1L,
          isOver = false, tickIntervalMs = 200L)
        val got = new java.util.concurrent.ConcurrentLinkedQueue[
          org.apache.spark.sql.Row]()
        val q = MavgStream(mem.toDS(), conf).toDF()
          .writeStream.outputMode("append")
          .option("checkpointLocation",
            new java.io.File(base, s"ckpt-$run").getAbsolutePath)
          .foreachBatch { (b: DataFrame, _: Long) =>
            b.collect().foreach(got.add); ()
          }
          .trigger(org.apache.spark.sql.streaming.Trigger
            .ProcessingTime("100 milliseconds"))
          .start()
        def has(key: String, ev: String): Boolean = got.asScala.exists(
          r => r.getString(0) == key && r.getString(2) == ev)
        // the snapshot is taken the moment quiet's END is observed,
        // BEFORE stopping: once the feeder loop ends, `healthy` stops
        // receiving traffic too and would — correctly! — start its own
        // underlimit alert a few windows later; the query's assertion
        // window is "while healthy traffic flowed". No
        // processAllAvailable here: live processing-time timeouts emit
        // on every trigger, so the stream never reports caught-up.
        var snap: Seq[org.apache.spark.sql.Row] = Seq.empty
        try {
          val deadline = System.nanoTime() + 90L * 1_000_000_000L
          var i = 0
          while (!has("quiet", "end") && System.nanoTime() < deadline) {
            val nowNs = System.currentTimeMillis() * 1_000_000L
            // quiet's three phases: burst (i < 6) → SILENCE until the
            // timeout ticks fire its start → traffic resumed until the
            // hysteresis closes the episode
            val feedQuiet = i < 6 || has("quiet", "start")
            val rows = MavgStream.Input("healthy", nowNs, 500.0) +:
              (if (feedQuiet)
                 Seq(MavgStream.Input("quiet", nowNs, 500.0))
               else Nil)
            mem.addData(rows: _*)
            Thread.sleep(100)
            i += 1
          }
          snap = got.asScala.toSeq
        } finally q.stop()
        require(snap.exists(r =>
            r.getString(0) == "quiet" && r.getString(2) == "start"),
          "q113: the silent key's underlimit alert never started — " +
            "the per-key timeout (underlimit scanner analog) did " +
            "not tick it")
        require(snap.exists(r =>
            r.getString(0) == "quiet" && r.getString(2) == "end"),
          "q113: the recovered key's underlimit alert never ended — " +
            "the scanner's per-scan value refresh did not surface the " +
            "recovered rate to the hysteresis clock")
        val events = snap
          .filter(r => Set("start", "end")(r.getString(2)))
          .map(r => (r.getString(0), r.getInt(1), r.getString(2)))
        s.createDataset(events).toDF("key", "limit_idx", "ev")
          .withColumn("limit_idx", col("limit_idx").cast(LongType))
          .orderBy(col("key").asc, col("ev").asc)
      }
    },
    Some("""SELECT * FROM (
             SELECT 'quiet' AS key, CAST(0 AS BIGINT) AS limit_idx,
                    'end' AS ev
             UNION ALL
             SELECT 'quiet' AS key, CAST(0 AS BIGINT) AS limit_idx,
                    'start' AS ev)
           ORDER BY key ASC, ev ASC"""))

  // --------------- semantic dedup (SemDeDup: cluster → ε-prune inside)
  /** q114 is the embedding-side dedup a lexical pass can't do: the
    * integer-exact k-means (q57's trainer, q58's assignment rule)
    * partitions the corpus, and within each cluster any item with a
    * smaller-id ε-neighbor is pruned. The oracle replays training,
    * assignment and the intra-cluster prune in DuckDB — cosine sums
    * run in array-index order on both engines, so the ≥ threshold
    * decides identically (q44 pins the same property). */
  private val q114 = Q(
    "q114_semantic_dedup",
    (s, dir) => {
      import graft.operators.Similarity
      Similarity.semanticDedup(t(s, dir, "embeddings"), "vec_id",
          "embedding", k = 4, iters = 2, minSim = 0.3)
        .orderBy(col("vec_id").asc)
    },
    Some(semanticDedupOracle))

  private lazy val semanticDedupOracle: String = {
    def cos(a: String, b: String) =
      s"${OracleSql.dotSql(a, b, 64)} / " +
        s"(sqrt(${OracleSql.dotSql(a, a, 64)}) * " +
        s"sqrt(${OracleSql.dotSql(b, b, 64)}))"
    s"""WITH ${OracleSql.kmeansCtes(4, 2, 64, 1000000L)},
      cent AS (SELECT cid,
          list(CAST(cx AS DOUBLE) / 1000000 ORDER BY pos) AS cv
        FROM c2 GROUP BY cid),
      asg AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cv")} DESC NULLS LAST,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c) WHERE rn = 1),
      dropped AS (SELECT DISTINCT r.vec_id FROM asg l JOIN asg r
          ON l.cid = r.cid AND l.vec_id < r.vec_id
        WHERE ${cos("l.embedding", "r.embedding")} >= 0.3)
      SELECT a.vec_id, a.cid FROM asg a
      WHERE a.vec_id NOT IN (SELECT vec_id FROM dropped)
      ORDER BY a.vec_id ASC"""
  }

  // ------------------- BPE tokenizer APPLICATION (the inference path)
  /** q115 closes the tokenizer loop: train merges on HALF the corpus
    * (even doc_ids — q105's trainer unchanged), freeze them, encode
    * the HELD-OUT half with the canonical greedy-rank apply
    * (TextAnalysis.bpeApply — at 100 TB this is the shape that
    * matters: train once on a sample, then a pure per-row map over
    * the full corpus, no shuffle, merge-count-independent cost). The
    * collect is the tokenizer artifact itself — driver-sized by
    * definition. The oracle replays training via bpeCtes on the even
    * half and the greedy-rank fixpoint via ONE recursive CTE
    * (OracleSql.bpeApplyCtes), so train → freeze → encode is
    * bit-for-bit engine-independent end to end. */
  private val q115 = Q(
    "q115_bpe_apply",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
      val merges = TextAnalysis
        .bpeMerges(docs.filter(col("doc_id") % 2 === 0), "text", 6)
        .orderBy(col("step").asc).collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      docs.filter(col("doc_id") % 2 === 1)
        .select(explode(TextAnalysis.bpeApply(col("text"), merges))
          .as("token"))
        .groupBy(col("token")).agg(count(lit(1)).as("freq"))
        .orderBy(col("freq").desc, col("token").asc)
    },
    Some(s"""WITH RECURSIVE ${OracleSql.bpeCtes(6,
        "(SELECT text FROM documents WHERE doc_id % 2 = 0) tdocs")},
      ${OracleSql.bpeApplyCtes(6,
        "(SELECT text FROM documents WHERE doc_id % 2 = 1) edocs")}
      SELECT s AS token, CAST(SUM(freq) AS BIGINT) AS freq
      FROM (SELECT freq, unnest(syms) AS s FROM eafinal)
      GROUP BY 1 ORDER BY freq DESC, token ASC"""))

  // ------------- exact duplicate-SPAN removal (ExactSubstr, Lee et al.)
  /** Shared oracle CTE chain for q116/q117 (mirrors SpanDedup
    * bit-for-bit): every L-token window of every document, duplicated
    * grams mark their non-first occurrences (ROW_NUMBER by (doc, pos)
    * ≡ the operator's min-struct — same set, no implementation
    * leakage), marked windows merge into maximal spans per document
    * via the prev-running-max islands idiom. `src` is the corpus
    * relation (q121 runs the same chain over its gated/deduped CTE). */
  private def spanCtes(l: Int, src: String = "documents"): String =
    s"""stoks AS (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM $src),
      sgram AS (SELECT doc_id,
          unnest(range(1, len(tk) - $l + 2)) AS pos, tk
        FROM stoks WHERE len(tk) >= $l),
      sg2 AS (SELECT doc_id, pos,
          array_to_string(list_slice(tk, pos, pos + $l - 1), ' ') AS gram
        FROM sgram),
      sdup AS (SELECT doc_id, pos,
          COUNT(*) OVER (PARTITION BY gram) AS c,
          ROW_NUMBER() OVER (PARTITION BY gram
            ORDER BY doc_id, pos) AS rn
        FROM sg2),
      smarked AS (SELECT doc_id, pos FROM sdup WHERE c > 1 AND rn > 1),
      sord AS (SELECT doc_id, pos,
          MAX(pos + $l - 1) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM smarked),
      sisl AS (SELECT doc_id, pos,
          SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
              THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY pos) AS gid
        FROM sord),
      sspans AS (SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS start_tok,
          CAST(MAX(pos) + $l - 1 AS BIGINT) AS end_tok
        FROM sisl GROUP BY doc_id, gid)"""

  /** q116: duplicated-span DETECTION — the substring-level dedup a
    * document-level pass cannot do (Lee et al.'s ExactSubstr,
    * arXiv:2107.06499, over word tokens). Every 8-token window is an
    * occurrence; grams seen more than once mark all but their
    * globally-first copy; marked windows merge into maximal 1-based
    * inclusive spans. The operator marks via
    * groupBy(gram).agg(count, min(struct)) + join-back — map-side
    * partials collapse the hottest gram to one row before the
    * exchange (no per-gram sort task, unlike a row_number window), so
    * boilerplate repeated millions of times cannot skew a task. Gram
    * identity is the default 128-bit hash pair (16 bytes/window on
    * the exchange, vs ~L× corpus token bytes for the raw string);
    * the DuckDB oracle groups on raw strings, so a green row here is
    * also the collision-freeness proof for the hashed path. */
  private val q116 = Q(
    "q116_dup_spans",
    (s, dir) => {
      import graft.operators.SpanDedup
      SpanDedup.duplicateSpans(t(s, dir, "documents"), "doc_id",
          "text", minTokens = 8)
        .orderBy(col("doc_id").asc, col("start_tok").asc)
    },
    Some(s"""WITH ${spanCtes(8)}
      SELECT doc_id, start_tok, end_tok FROM sspans
      ORDER BY doc_id ASC, start_tok ASC"""))

  /** q117: duplicated-span REMOVAL — q116's spans cut back out of the
    * text; one row per document (empty string when the whole document
    * was duplicated — the first copy survives under keepFirst, so a
    * corpus of identical documents keeps exactly one). The cut is a
    * higher-order filter inside the projection — the only shuffles
    * are q116's plus one doc-keyed join of the far-smaller span
    * table. */
  private val q117 = Q(
    "q117_span_clean",
    (s, dir) => {
      import graft.operators.SpanDedup
      SpanDedup.removeSpans(t(s, dir, "documents"), "doc_id",
          "text", minTokens = 8)
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH ${spanCtes(8)},
      stp AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk
        FROM stoks),
      stok1 AS (SELECT doc_id, pos, tk[pos] AS tok FROM stp),
      skept AS (SELECT t.doc_id, t.pos, t.tok FROM stok1 t
        WHERE NOT EXISTS (SELECT 1 FROM sspans s
          WHERE s.doc_id = t.doc_id
            AND t.pos BETWEEN s.start_tok AND s.end_tok)),
      sclean AS (SELECT doc_id,
          string_agg(tok, ' ' ORDER BY pos) AS cleaned
        FROM skept GROUP BY doc_id)
      SELECT d.doc_id, COALESCE(c.cleaned, '') AS cleaned
      FROM documents d LEFT JOIN sclean c ON d.doc_id = c.doc_id
      ORDER BY d.doc_id ASC"""))

  /** q118: SPAN decontamination — GPT-3 appendix-C style: instead of
    * dropping every document that collides with the benchmark (q52's
    * doc-level verdicts), cut only the collision windows, widened by
    * pad=2 tokens each side and clamped to the document. Every
    * collision is marked (no keep-first exemption — benchmark text
    * must not survive anywhere); padded windows coalesce BEFORE
    * clamping. The benchmark gram set rides a left_semi join — small
    * sets broadcast; at scale only the distinct-gram stream shuffles,
    * never document bytes. */
  private val q118 = Q(
    "q118_contam_spans",
    (s, dir) => {
      import graft.operators.SpanDedup
      val docs = t(s, dir, "documents")
      SpanDedup.contaminationSpans(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          minTokens = 4, pad = 2)
        .orderBy(col("doc_id").asc, col("start_tok").asc)
    },
    Some("""WITH ctoks AS (SELECT doc_id,
          list_filter(string_split(text, ' '), x -> x <> '') AS tk
        FROM documents WHERE source <> 'src0'),
      cgram AS (SELECT doc_id, unnest(range(1, len(tk) - 4 + 2)) AS pos,
          tk FROM ctoks WHERE len(tk) >= 4),
      cg2 AS (SELECT doc_id, pos,
          array_to_string(list_slice(tk, pos, pos + 4 - 1), ' ') AS gram
        FROM cgram),
      btoks AS (SELECT list_filter(string_split(text, ' '),
            x -> x <> '') AS tk
        FROM documents WHERE source = 'src0'),
      bgram AS (SELECT DISTINCT
          array_to_string(list_slice(tk, pos, pos + 4 - 1), ' ') AS gram
        FROM (SELECT unnest(range(1, len(tk) - 4 + 2)) AS pos, tk
              FROM btoks WHERE len(tk) >= 4)),
      cmark AS (SELECT doc_id, pos - 2 AS s, pos + 4 - 1 + 2 AS e
        FROM cg2 WHERE gram IN (SELECT gram FROM bgram)),
      cord AS (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM cmark),
      cisl AS (SELECT doc_id, s, e,
          SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1
              THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s) AS gid
        FROM cord),
      cspans AS (SELECT doc_id, MIN(s) AS s0, MAX(e) AS e0
        FROM cisl GROUP BY doc_id, gid)
      SELECT c.doc_id,
        CAST(GREATEST(c.s0, 1) AS BIGINT) AS start_tok,
        CAST(LEAST(c.e0, len(t.tk)) AS BIGINT) AS end_tok
      FROM cspans c JOIN ctoks t ON c.doc_id = t.doc_id
      ORDER BY c.doc_id ASC, start_tok ASC"""))

  /** q119: Gopher-style quality rule gate (Rae et al. arXiv:2112.11446
    * Appendix A) — integer-exact metrics (basis points via
    * FLOOR(10000·x)), per-doc verdict, ONE projection (no shuffle,
    * whole-stage codegen): the rule family real curation pipelines
    * run before anything expensive. */
  private val q119 = Q(
    "q119_gopher_rules",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val cols = TextAnalysis.gopherRules(col("text"))
        .map { case (n, c) => c.as(n) }
      t(s, dir, "documents")
        .select((col("doc_id") +: cols): _*)
        .orderBy(col("doc_id").asc)
    },
    Some("""WITH g AS (SELECT doc_id,
        list_filter(string_split(text, ' '), x -> x <> '') AS tk,
        list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt,
        text FROM documents),
      m AS (SELECT doc_id,
        CAST(len(tk) AS BIGINT) AS n_words,
        CAST(CASE WHEN len(tk) > 0 THEN FLOOR(10000 *
            list_sum(list_transform(tk, w -> len(w))) / len(tk))
          ELSE 0 END AS BIGINT) AS mean_word_len_bp,
        CAST(CASE WHEN len(tk) > 0 THEN FLOOR(10000 *
            ((len(text) - len(replace(text, '#', ''))) +
             (len(text) - len(replace(text, '...', ''))) / 3)
            / len(tk))
          ELSE 0 END AS BIGINT) AS symbol_ratio_bp,
        CAST(CASE WHEN len(tk) > 0 THEN FLOOR(10000 *
            len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
            / len(tk))
          ELSE 0 END AS BIGINT) AS alpha_word_bp,
        CAST((CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END +
          CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END)
          AS BIGINT) AS stop_hits
        FROM g)
      SELECT doc_id, n_words, mean_word_len_bp, symbol_ratio_bp,
        alpha_word_bp, stop_hits,
        (n_words >= 50 AND n_words <= 100000 AND
         mean_word_len_bp >= 30000 AND mean_word_len_bp <= 100000 AND
         symbol_ratio_bp <= 1000 AND alpha_word_bp >= 8000 AND
         stop_hits >= 2) AS keep
      FROM m ORDER BY doc_id ASC"""))

  /** q120: deterministic corpus shuffle + reshard — the global
    * shuffle every training run needs (loader order uncorrelated with
    * collection order, reproducible across clusters and engines: the
    * permutation key is md5(seed:id)). ONE shuffle on shard +
    * per-shard sort: shards bound the sort width, so nothing global
    * is ever sorted at 100 TB. */
  private val q120 = Q(
    "q120_shuffle_shards",
    (s, dir) => {
      import graft.operators.Curation
      Curation.shuffleShards(t(s, dir, "documents"), "doc_id",
          seed = 42L, shards = 8)
        .select(col("doc_id"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some("""WITH k AS (SELECT doc_id,
        md5(concat('42', ':', CAST(doc_id AS VARCHAR))) AS key
        FROM documents),
      sh AS (SELECT doc_id, key,
        CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 8 AS BIGINT)
          AS shard FROM k)
      SELECT doc_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, doc_id ASC) AS BIGINT) AS seq
      FROM sh ORDER BY shard ASC, seq ASC"""))

  /** q121: the COMPOSED curation pipeline — every prior curation
    * operator chained as ONE DataFrame over `documents`, the realistic
    * deployment shape (the reference's analog: one flow stream feeding
    * many operators in the monitoring-object tree, netflow.c:214-244)
    * and the test most likely to surface operator-BOUNDARY drift
    * (tokenization handoff, empty-string survivors, column contracts):
    *
    *   Gopher gate (minWords=20, minStopHits=1 — the synthetic corpus
    *   is stopword-poor) → exact dedup (digest scale path) → exact
    *   duplicate-SPAN removal (L=8) → span decontamination against
    *   the src0 benchmark (L=4, pad=2) over the CLEANED text →
    *   deterministic reshard (seed 42, 8 shards).
    *
    * Exchange note (measured): without stage materialization the
    * formatted plan pays 20 shuffle exchanges because sibling
    * branches (a span join's two sides, the cut's lens join)
    * re-derive the upstream gate+dedup lineage. The two
    * localCheckpoints below — the in-process stand-in for the parquet
    * write/read a 100 TB deployment puts between stages, exactly like
    * the reference's MO tree materializes per-window files — collapse
    * that to 8 exchanges and cut wall time 8.1 → 5.0 s at sf0.1. The
    * remaining shape: 0 SortAggregate, every join broadcast except
    * the co-keyed span joins, gram legs 16 bytes/window (hashed),
    * reshard ONE shard exchange + per-shard sort. The operators need
    * no code change for any of this — materialization is a call-site
    * decision. */
  private val q121 = Q(
    "q121_curation_pipeline",
    (s, dir) => {
      import graft.operators.{Curation, Dedup, SpanDedup, TextAnalysis}
      val docs = t(s, dir, "documents")
      val corpus = docs.filter(col("source") =!= "src0")
      val bench = docs.filter(col("source") === "src0")
      val keep = TextAnalysis.gopherRules(col("text"), minWords = 20,
        minStopHits = 1).toMap.apply("keep")
      val gated = corpus.filter(keep).select(col("doc_id"), col("text"))
      // stage checkpoints (the deployment shape the plan note below
      // describes): span dedup consumes its input in several sibling
      // branches — materializing the small gated+deduped survivor set
      // once stops each branch re-running the gate scan + dedup
      // (measured: q121 8.1 s → ~half with the checkpoint; at 100 TB
      // this is the parquet write/read between pipeline stages).
      // EAGER is load-bearing (r22 measured): lazy (eager=false, the
      // q110 pattern) let the decontam's SIBLING stages race on the
      // un-materialized RDD — concurrent stages each recompute a
      // persisted-but-not-yet-populated partition — q121 lazy 5.8 vs
      // eager 5.3 median in the same box window (warm minima 5.3 vs
      // 4.9); the eager job serializes materialization BEFORE the
      // consumers, which is the point
      val deduped = Dedup.exactByDigest(gated, "doc_id", "text")
        .localCheckpoint()
      val spanned = SpanDedup.removeSpans(deduped, "doc_id", "text",
        minTokens = 8).localCheckpoint() // 3 consumers in decontam
      val decon = SpanDedup.removeContaminated(spanned, "doc_id",
        "cleaned", bench, "text", minTokens = 4, pad = 2)
      Curation.shuffleShards(decon, "doc_id", seed = 42L, shards = 8)
        .select(col("doc_id"), col("cleaned"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some(s"""WITH pbase AS (SELECT doc_id, text FROM documents
        WHERE source <> 'src0'),
      pg AS (SELECT doc_id, text,
          list_filter(string_split(text, ' '), x -> x <> '') AS tk,
          list_filter(string_split(lower(text), ' '), x -> x <> '') AS lt
        FROM pbase),
      pm AS (SELECT doc_id, text,
          CAST(len(tk) AS BIGINT) AS n_words,
          CAST(CASE WHEN len(tk) > 0 THEN FLOOR(10000 *
              list_sum(list_transform(tk, w -> len(w))) / len(tk))
            ELSE 0 END AS BIGINT) AS mwl,
          CAST(CASE WHEN len(tk) > 0 THEN FLOOR(10000 *
              ((len(text) - len(replace(text, '#', ''))) +
               (len(text) - len(replace(text, '...', ''))) / 3)
              / len(tk))
            ELSE 0 END AS BIGINT) AS sym,
          CAST(CASE WHEN len(tk) > 0 THEN FLOOR(10000 *
              len(list_filter(tk, w -> regexp_matches(w, '[A-Za-z]')))
              / len(tk))
            ELSE 0 END AS BIGINT) AS alpha,
          CAST((CASE WHEN list_contains(lt, 'the') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'be') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'to') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'of') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'and') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'that') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'have') THEN 1 ELSE 0 END +
            CASE WHEN list_contains(lt, 'with') THEN 1 ELSE 0 END)
            AS BIGINT) AS stop
        FROM pg),
      pex AS (SELECT doc_id, text FROM (SELECT doc_id, text,
          ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        FROM pm
        WHERE n_words >= 20 AND n_words <= 100000
          AND mwl >= 30000 AND mwl <= 100000
          AND sym <= 1000 AND alpha >= 8000 AND stop >= 1)
        WHERE rn = 1),
      ${spanCtes(8, "pex")},
      stp AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk
        FROM stoks),
      stok1 AS (SELECT doc_id, pos, tk[pos] AS tok FROM stp),
      skept AS (SELECT t.doc_id, t.pos, t.tok FROM stok1 t
        WHERE NOT EXISTS (SELECT 1 FROM sspans s
          WHERE s.doc_id = t.doc_id
            AND t.pos BETWEEN s.start_tok AND s.end_tok)),
      sclean0 AS (SELECT doc_id,
          string_agg(tok, ' ' ORDER BY pos) AS cleaned
        FROM skept GROUP BY doc_id),
      sclean AS (SELECT e.doc_id, COALESCE(c.cleaned, '') AS cleaned
        FROM pex e LEFT JOIN sclean0 c ON e.doc_id = c.doc_id),
      ctoks AS (SELECT doc_id,
          list_filter(string_split(cleaned, ' '), x -> x <> '') AS tk
        FROM sclean),
      cgram AS (SELECT doc_id, unnest(range(1, len(tk) - 4 + 2)) AS pos,
          tk FROM ctoks WHERE len(tk) >= 4),
      cg2 AS (SELECT doc_id, pos,
          array_to_string(list_slice(tk, pos, pos + 4 - 1), ' ') AS gram
        FROM cgram),
      btoks AS (SELECT list_filter(string_split(text, ' '),
            x -> x <> '') AS tk
        FROM documents WHERE source = 'src0'),
      bgram AS (SELECT DISTINCT
          array_to_string(list_slice(tk, pos, pos + 4 - 1), ' ') AS gram
        FROM (SELECT unnest(range(1, len(tk) - 4 + 2)) AS pos, tk
              FROM btoks WHERE len(tk) >= 4)),
      cmark AS (SELECT doc_id, pos - 2 AS s, pos + 4 - 1 + 2 AS e
        FROM cg2 WHERE gram IN (SELECT gram FROM bgram)),
      cord AS (SELECT doc_id, s, e,
          MAX(e) OVER (PARTITION BY doc_id ORDER BY s
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        FROM cmark),
      cisl AS (SELECT doc_id, s, e,
          SUM(CASE WHEN prev_end IS NULL OR s > prev_end + 1
              THEN 1 ELSE 0 END)
            OVER (PARTITION BY doc_id ORDER BY s) AS gid
        FROM cord),
      cspans0 AS (SELECT doc_id, MIN(s) AS s0, MAX(e) AS e0
        FROM cisl GROUP BY doc_id, gid),
      cspans AS (SELECT c.doc_id,
          GREATEST(c.s0, 1) AS start_tok,
          LEAST(c.e0, len(t.tk)) AS end_tok
        FROM cspans0 c JOIN ctoks t ON c.doc_id = t.doc_id),
      dtp AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) AS pos, tk
        FROM ctoks),
      dtok AS (SELECT doc_id, pos, tk[pos] AS tok FROM dtp),
      dkept AS (SELECT t.doc_id, t.pos, t.tok FROM dtok t
        WHERE NOT EXISTS (SELECT 1 FROM cspans s
          WHERE s.doc_id = t.doc_id
            AND t.pos BETWEEN s.start_tok AND s.end_tok)),
      dclean0 AS (SELECT doc_id,
          string_agg(tok, ' ' ORDER BY pos) AS cleaned
        FROM dkept GROUP BY doc_id),
      dclean AS (SELECT e.doc_id, COALESCE(c.cleaned, '') AS cleaned
        FROM sclean e LEFT JOIN dclean0 c ON e.doc_id = c.doc_id),
      pk AS (SELECT doc_id, cleaned,
          md5(concat('42', ':', CAST(doc_id AS VARCHAR))) AS key
        FROM dclean),
      psh AS (SELECT doc_id, cleaned, key,
          CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 8 AS BIGINT)
            AS shard FROM pk)
      SELECT doc_id, cleaned, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, doc_id ASC) AS BIGINT) AS seq
      FROM psh ORDER BY shard ASC, seq ASC"""))

  /** q122: perceptual image hash (aHash) — the multimodal arm of the
    * dedup family: luma box-average to an 8×8 thumbnail, one bit per
    * cell vs the image mean, integer-exact throughout (see
    * [[graft.operators.Multimodal.imageAHash]]). Runs the REAL decode
    * (ImageIO pixels) over the RGB-PNG subset of the generated corpus
    * — the lossless subset whose pixels equal the generator formula —
    * so the oracle recomputes the hash from arithmetic alone: the
    * pixel formula → cell luma sums → exact rational mean compare →
    * the same 16-hex-char signature. */
  private val q122 = Q(
    "q122_image_ahash",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val imgs = s.range(64)
        .filter(col("id") % 6 === 4 && col("id") % 7 =!= 0)
        .map(i => (i, Multimodal.encodeTestImage(i)))
        .toDF("id", "payload")
      Multimodal.withAHash(imgs, "payload")
        .select(col("id"),
          lower(lpad(hex(col("ahash")), 16, "0")).as("ahash_hex"))
        .orderBy(col("id").asc)
    },
    Some("""WITH ids AS (
        SELECT i, 8 + i % 9 AS w, 5 + (i * 3) % 11 AS h
        FROM range(64) t(i) WHERE i % 6 = 4 AND i % 7 <> 0),
      px AS (
        SELECT i,
          ((i * 2654435761 + xx.x * 31 + yy.y) % 16777216) AS pv,
          (xx.x * 8) // w AS cu, (yy.y * 8) // h AS cv
        FROM ids,
          (SELECT unnest(generate_series(0, 16)) AS x) xx,
          (SELECT unnest(generate_series(0, 15)) AS y) yy
        WHERE xx.x < w AND yy.y < h),
      lum AS (SELECT i, cu, cv,
          SUM(((pv >> 16) & 255) + ((pv >> 8) & 255) + (pv & 255)) AS cs,
          COUNT(*) AS cn
        FROM px GROUP BY i, cu, cv),
      tot AS (SELECT i, SUM(cs) AS ts, SUM(cn) AS tn
        FROM lum GROUP BY i),
      grid AS (SELECT gu, gv FROM
        (SELECT unnest(generate_series(0, 7)) AS gu),
        (SELECT unnest(generate_series(0, 7)) AS gv)),
      cells AS (SELECT t.i, g.gu, g.gv,
          COALESCE(l.cs, 0) AS cs, COALESCE(l.cn, 0) AS cn, t.ts, t.tn
        FROM tot t CROSS JOIN grid g
        LEFT JOIN lum l ON l.i = t.i AND l.cu = g.gu AND l.cv = g.gv),
      rowbytes AS (SELECT i, gv,
          CAST(SUM(CASE WHEN cs * tn > ts * cn
            THEN (1 << gu) ELSE 0 END) AS BIGINT) AS byte
        FROM cells GROUP BY i, gv)
      SELECT i AS id,
        string_agg(printf('%02x', byte), '' ORDER BY gv DESC)
          AS ahash_hex
      FROM rowbytes GROUP BY i ORDER BY id ASC"""))

  /** q123: perceptual near-duplicate image pairs — [[q122]]'s aHash
    * fed through the SAME pigeonhole-banded Hamming join the SimHash
    * text path uses ([[graft.operators.Dedup.hammingPairs]], factored
    * for exactly this reuse): 7 bands over 64 bits, perfect recall at
    * distance ≤ 6, popcount verify — so image dedup at corpus scale
    * never goes all-pairs. The corpus plants an EXACT duplicate of
    * every source image under id+100 (re-ingest shape); the oracle
    * recomputes every hash from the pixel formula and brute-forces
    * all pairs, so banding recall is proven, not assumed. */
  /** The q123/q128 image corpus: the RGB-PNG subset sources plus an
    * exact re-ingest duplicate of each under id+100. */
  private val imageDedupSrcs =
    Seq(4L, 10L, 16L, 22L, 34L, 40L, 46L, 52L, 58L)

  private[graft] def imageDedupCorpus(s: SparkSession): DataFrame = {
    import graft.operators.Multimodal
    import s.implicits._
    (imageDedupSrcs.map(i => (i, Multimodal.encodeTestImage(i))) ++
      imageDedupSrcs.map(i => (i + 100L, Multimodal.encodeTestImage(i))))
      .toDF("img_id", "payload")
  }

  /** Shared oracle CTE chain for q123/q128: recompute every aHash from
    * the generator pixel formula, then brute-force all-pairs Hamming
    * distances. Exposes `imgs(img_id, src)` and `dists(a, b, dist)`. */
  private val imageHashCtes: String =
    """srcs AS (
        SELECT i, 8 + i % 9 AS w, 5 + (i * 3) % 11 AS h
        FROM (VALUES (4), (10), (16), (22), (34), (40), (46), (52),
          (58)) t(i)),
      px AS (
        SELECT i,
          ((i * 2654435761 + xx.x * 31 + yy.y) % 16777216) AS pv,
          (xx.x * 8) // w AS cu, (yy.y * 8) // h AS cv
        FROM srcs,
          (SELECT unnest(generate_series(0, 16)) AS x) xx,
          (SELECT unnest(generate_series(0, 15)) AS y) yy
        WHERE xx.x < w AND yy.y < h),
      lum AS (SELECT i, cu, cv,
          SUM(((pv >> 16) & 255) + ((pv >> 8) & 255) + (pv & 255)) AS cs,
          COUNT(*) AS cn
        FROM px GROUP BY i, cu, cv),
      tot AS (SELECT i, SUM(cs) AS ts, SUM(cn) AS tn
        FROM lum GROUP BY i),
      grid AS (SELECT gu, gv FROM
        (SELECT unnest(generate_series(0, 7)) AS gu),
        (SELECT unnest(generate_series(0, 7)) AS gv)),
      rowbytes AS (SELECT t.i, g.gv,
          CAST(SUM(CASE WHEN COALESCE(l.cs, 0) * t.tn >
            t.ts * COALESCE(l.cn, 0) THEN (1 << g.gu) ELSE 0 END)
            AS BIGINT) AS byte
        FROM tot t CROSS JOIN grid g
        LEFT JOIN lum l ON l.i = t.i AND l.cu = g.gu AND l.cv = g.gv
        GROUP BY t.i, g.gv),
      imgs AS (SELECT i AS img_id, i AS src FROM srcs
        UNION ALL SELECT i + 100, i FROM srcs),
      allp AS (SELECT a.img_id AS a, b.img_id AS b,
          a.src AS sa, b.src AS sb
        FROM imgs a JOIN imgs b ON a.img_id < b.img_id),
      dists AS (SELECT p.a, p.b,
          CAST(SUM(bit_count(xor(ra.byte, rb.byte))) AS BIGINT) AS dist
        FROM allp p
        JOIN rowbytes ra ON ra.i = p.sa
        JOIN rowbytes rb ON rb.i = p.sb AND rb.gv = ra.gv
        GROUP BY p.a, p.b)"""

  /** q123/q128 run hammingPairs WITH the hot-bucket skew guard — the
    * deployment shape for media dedup: one blank-media blob (identical
    * signatures, every band agreeing) re-quadratizes the band join at
    * corpus scale exactly like SemDeDup's one-blob cluster, and the
    * cap bounds every bucket's pair work at cap² (measured n²/2 vs
    * capped; SCALE.md "hammingPairs skew guard"). cap=8 here: the
    * corpus' largest band bucket holds 4 signatures (pinned by spec), so the
    * guard provably never drops a pair and the brute-force oracle
    * still matches bit-for-bit — recall loss begins only where a
    * bucket exceeds the cap, i.e. where the matches were
    * blank-vs-blank noise. */
  private[graft] val mediaMaxBucket = Some(8L)

  private val q123 = Q(
    "q123_image_neardup",
    (s, dir) => {
      import graft.operators.{Dedup, Multimodal}
      Dedup.hammingPairs(
          Multimodal.withAHash(imageDedupCorpus(s), "payload"),
          "img_id", "ahash", bits = 64, maxDist = 6,
          maxBucket = mediaMaxBucket)
        .orderBy(col("a").asc, col("b").asc)
    },
    Some(s"""WITH $imageHashCtes
      SELECT a, b, dist FROM dists WHERE dist <= 6
      ORDER BY a ASC, b ASC"""))

  /** q128: media dedup END TO END — q123's perceptual pairs fed
    * through the same star-contraction connected components + resolve
    * the text side uses (q45/q46 machinery verbatim): duplicate
    * clusters over aHash-Hamming edges, keep the smallest id per
    * cluster. The re-ingest duplicates (id+100) all drop, every
    * original survives — and the oracle proves it by recursive-CTE
    * closure over the brute-forced distance table. */
  private val q128 = Q(
    "q128_media_dedup_resolve",
    (s, dir) => {
      import graft.operators.{ConnectedComponents, Dedup, Multimodal}
      val imgs = imageDedupCorpus(s)
      val pairs = Dedup.hammingPairs(
        Multimodal.withAHash(imgs, "payload"), "img_id", "ahash",
        bits = 64, maxDist = 6, maxBucket = mediaMaxBucket)
      ConnectedComponents.resolve(imgs, "img_id", pairs, "a", "b")
        .select(col("img_id"))
        .orderBy(col("img_id").asc)
    },
    Some(s"""WITH RECURSIVE $imageHashCtes,
      mpairs AS (SELECT a, b FROM dists WHERE dist <= 6),
      ${OracleSql.closureCtes("mpairs")}
      SELECT img_id FROM imgs
      WHERE img_id NOT IN (SELECT id FROM cc WHERE component <> id)
      ORDER BY img_id ASC"""))

  /** q124: audio fingerprint — [[q122]]'s design over the PCM stream:
    * real `javax.sound` decode of all three containers (WAV/AIFF/AU,
    * both byte orders), Σ|sample| per 64 equal time slices, one bit
    * per slice vs the clip mean, exact integer arithmetic end to end
    * (see [[graft.operators.Multimodal.audioFingerprint]]). The
    * oracle recomputes every sample from the generator byte formula —
    * including the per-container ENDIANNESS branch — so a green row
    * proves the decode path reassembles the same 16-bit signed
    * samples the generator wrote. Corrupt payloads fingerprint NULL.
    * Near-dup pairing rides the same [[q123]] hammingPairs machinery
    * (spec'd; no second oracle needed). */
  private val q124 = Q(
    "q124_audio_fingerprint",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val wavs = s.range(48)
        .map(i => (i, Multimodal.encodeTestAudio(i)))
        .toDF("id", "payload")
      Multimodal.withAudioFingerprint(wavs, "payload")
        .select(col("id"),
          lower(lpad(hex(col("afp")), 16, "0")).as("afp_hex"))
        .orderBy(col("id").asc)
    },
    Some("""WITH ids AS (
        SELECT i, 1 + i % 2 AS ch, 50 + i % 20 AS frames,
          CASE WHEN (i // 3) % 3 = 0 THEN 0 ELSE 1 END AS be
        FROM range(48) t(i) WHERE i % 7 <> 0),
      samp AS (
        SELECT i, ss.s AS idx, frames * ch AS n,
          ((i * 31 + (ss.s * 2) * 7) % 256) AS b0,
          ((i * 31 + (ss.s * 2 + 1) * 7) % 256) AS b1, be
        FROM ids, (SELECT unnest(generate_series(0, 139)) AS s) ss
        WHERE ss.s < frames * ch),
      amp AS (SELECT i, idx, n,
          ABS(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END) AS a
        FROM (SELECT i, idx, n,
            CASE WHEN be = 1 THEN b0 * 256 + b1
                 ELSE b1 * 256 + b0 END AS u FROM samp)),
      buck AS (SELECT i, (idx * 64) // n AS k,
          SUM(a) AS bs, COUNT(*) AS bn
        FROM amp GROUP BY i, k),
      tot AS (SELECT i, SUM(bs) AS ts, SUM(bn) AS tn
        FROM buck GROUP BY i),
      grid AS (SELECT unnest(generate_series(0, 63)) AS k),
      rowbytes AS (SELECT t.i, g.k // 8 AS gv,
          CAST(SUM(CASE WHEN COALESCE(b.bs, 0) * t.tn >
            t.ts * COALESCE(b.bn, 0) THEN (1 << (g.k % 8))
            ELSE 0 END) AS BIGINT) AS byte
        FROM tot t CROSS JOIN grid g
        LEFT JOIN buck b ON b.i = t.i AND b.k = g.k
        GROUP BY t.i, g.k // 8),
      fps AS (SELECT i, string_agg(printf('%02x', byte), ''
          ORDER BY gv DESC) AS afp_hex
        FROM rowbytes GROUP BY i)
      SELECT t.i AS id, f.afp_hex
      FROM range(48) t(i) LEFT JOIN fps f ON f.i = t.i
      ORDER BY id ASC"""))

  /** q125: video sample-stream signature — the container-level member
    * of the fingerprint triple (q122 image, q124 audio): every encoded
    * sample's byte sum is its "energy", one bit per stream slice vs
    * the mean. Catches the re-mux / metadata-strip duplicate class
    * (identical encoded streams in different container bytes) without
    * a codec; a re-ENCODE defeats it by design — documented at
    * [[graft.operators.Multimodal.videoSampleSignature]]. The oracle
    * replays sample energies from the MP4 generator formula (sample k
    * = 8 bytes of (i·31 + k·7) mod 256), so a green row proves the
    * sample-table walk slices the same payloads the generator wrote. */
  private val q125 = Q(
    "q125_video_signature",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val vids = s.range(48)
        .map(i => (i, Multimodal.encodeTestVideoSamples(i)))
        .toDF("id", "payload")
      Multimodal.withVideoSignature(vids, "payload")
        .select(col("id"),
          lower(lpad(hex(col("vsig")), 16, "0")).as("vsig_hex"))
        .orderBy(col("id").asc)
    },
    Some("""WITH ids AS (
        SELECT i, 5 + i % 4 AS n FROM range(48) t(i) WHERE i % 7 <> 0),
      en AS (SELECT i, kk.k AS s, n,
          8 * ((i * 31 + kk.k * 7) % 256) AS e
        FROM ids, (SELECT unnest(generate_series(0, 8)) AS k) kk
        WHERE kk.k < n),
      buck AS (SELECT i, (s * 64) // n AS k,
          SUM(e) AS bs, COUNT(*) AS bn
        FROM en GROUP BY i, k),
      tot AS (SELECT i, SUM(bs) AS ts, SUM(bn) AS tn
        FROM buck GROUP BY i),
      grid AS (SELECT unnest(generate_series(0, 63)) AS k),
      rowbytes AS (SELECT t.i, g.k // 8 AS gv,
          CAST(SUM(CASE WHEN COALESCE(b.bs, 0) * t.tn >
            t.ts * COALESCE(b.bn, 0) THEN (1 << (g.k % 8))
            ELSE 0 END) AS BIGINT) AS byte
        FROM tot t CROSS JOIN grid g
        LEFT JOIN buck b ON b.i = t.i AND b.k = g.k
        GROUP BY t.i, g.k // 8),
      fps AS (SELECT i, string_agg(printf('%02x', byte), ''
          ORDER BY gv DESC) AS vsig_hex
        FROM rowbytes GROUP BY i)
      SELECT t.i AS id, f.vsig_hex
      FROM range(48) t(i) LEFT JOIN fps f ON f.i = t.i
      ORDER BY id ASC"""))

  /** q126: trained quality/domain classifier filter — the stage real
    * pipelines put between rule gates and training (GPT-3's
    * CommonCrawl quality classifier; DSIR's hashed n-gram importance
    * weights): TRAIN integer odds weights per hashed token bucket on
    * the even-doc_id half labeled lang='en', SCORE the odd half, keep
    * score > 0. Training is ONE map-side-combined aggregation (≤ 4096
    * weight rows shuffle at any corpus size); scoring is one explode
    * + broadcast weight join + per-doc sum. The oracle replays
    * train-then-score end to end — the learned weights are
    * bit-identical across engines because everything is integer
    * (documented deviation from float log-odds at
    * [[graft.operators.TextAnalysis.hashedOddsWeights]]).
    *
    * Honest note on this corpus: the synthetic documents draw ONE
    * shared vocabulary regardless of their lang/source labels
    * (measured: per-token "the"-rate is the same for lang=zh as
    * lang=en), so NO label here is token-learnable and the keep rate
    * correctly hovers near the prior — the query proves the
    * train/score machinery bit-for-bit, and ContaminationSpec proves
    * DISCRIMINATION on a separable corpus (disjoint vocabularies →
    * perfect split; 9:1 imbalance → shared-vocab docs still score
    * ≈ 0, the prior-centering property). */
  private val q126 = Q(
    "q126_quality_classifier",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
        .select(col("text"), (col("lang") === "en").as("label"))
      val w = TextAnalysis.hashedOddsWeights(train, "text", "label",
        buckets = 4096)
      TextAnalysis.scoreByHashedWeights(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", w,
          buckets = 4096)
        .select(col("doc_id"), col("score"),
          (col("score") > 0).as("keep"))
        .orderBy(col("doc_id").asc)
    },
    Some("""WITH tr AS (SELECT (lang = 'en') AS y,
          unnest(list_filter(string_split(lower(text), ' '),
            x -> x <> '')) AS t
        FROM documents WHERE doc_id % 2 = 0),
      cnts AS (SELECT
          CAST(CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 4096
            AS BIGINT) AS bucket,
          SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p,
          SUM(CASE WHEN y THEN 0 ELSE 1 END) AS n
        FROM tr GROUP BY 1),
      prior AS (SELECT CAST(FLOOR(10000 * (SUM(p) + 1)
          / (SUM(p) + SUM(n) + 2)) AS BIGINT) AS prior_bp FROM cnts),
      w AS (SELECT bucket,
          CAST(FLOOR(10000 * (p + 1) / (p + n + 2))
            - (SELECT prior_bp FROM prior) AS BIGINT) AS w_bp
        FROM cnts),
      te AS (SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '),
            x -> x <> '')) AS t
        FROM documents WHERE doc_id % 2 = 1),
      tb AS (SELECT doc_id,
          CAST(CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 4096
            AS BIGINT) AS bucket FROM te),
      sc AS (SELECT tb.doc_id,
          CAST(SUM(COALESCE(w.w_bp, 0)) AS BIGINT) AS score
        FROM tb LEFT JOIN w USING (bucket) GROUP BY tb.doc_id)
      SELECT d.doc_id, COALESCE(s.score, 0) AS score,
        COALESCE(s.score, 0) > 0 AS keep
      FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      LEFT JOIN sc s USING (doc_id)
      ORDER BY doc_id ASC"""))

  /** q127: int8-quantized top-k search — the READ side of q50's 4×-
    * smaller storage form: quantize the corpus and the query with the
    * same [[q50]] formula, rank by the pure INTEGER dot product
    * Σ q_i·p_i (monotone ~cosine surrogate on unit-normalized
    * quantized vectors), TakeOrdered — one broadcast + one map-side-
    * combined per-id sum, no float anywhere in the plan, bit-exact in
    * DuckDB. */
  private val q127 = Q(
    "q127_int8_topk",
    (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val corpus = Similarity.quantizeInt8(
        emb.filter(col("vec_id") =!= 1), "vec_id", "embedding")
      val query = Similarity.quantizeInt8(
          emb.filter(col("vec_id") === 1), "vec_id", "embedding")
        .withColumnRenamed("vec_id", "q_id")
      Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q", query,
          "q_id", k = 10)
        .select(col("vec_id"), col("dot"))
        .orderBy(col("dot").desc, col("vec_id").asc).limit(10)
    },
    Some(s"""WITH n AS (SELECT vec_id, embedding,
               sqrt(${OracleSql.dotSql("embedding", "embedding", 64)})
                 AS nrm
             FROM embeddings),
      qz AS (SELECT vec_id, i AS pos,
          CASE WHEN nrm <> 0 THEN
            CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127 / nrm + 0.5)
                 AS BIGINT) END AS q
        FROM n, (SELECT unnest(range(1, 65)) AS i)),
      corpus AS (SELECT * FROM qz WHERE vec_id <> 1 AND q IS NOT NULL),
      query AS (SELECT pos, q FROM qz WHERE vec_id = 1
        AND q IS NOT NULL)
      SELECT c.vec_id, CAST(SUM(c.q * query.q) AS BIGINT) AS dot
      FROM corpus c JOIN query ON c.pos = query.pos
      GROUP BY c.vec_id
      ORDER BY dot DESC, c.vec_id ASC LIMIT 10"""))

  /** q129: STREAMING duplicate-span marking — ExactSubstr as a
    * continuous-ingestion operator: the corpus replayed through a
    * file stream, every L-token window keyed by the SAME 128-bit gram
    * hash the batch path uses, one transformWithState holding each
    * gram's first occurrence (~20 bytes/gram), later arrivals emitted
    * as marks; the streamed marks island-merge batch-side
    * (spansFromMarks — a doc's marks all land in its arrival
    * micro-batch, so the merge needs no cross-batch state). A
    * single-batch replay reproduces batch keepFirst exactly, so the
    * q116 DuckDB oracle adjudicates the whole streaming path
    * bit-for-bit. */
  private val q129 = Q(
    "q129_stream_span_marks",
    (s, dir) => {
      import graft.operators.SpanDedup
      import graft.streaming.StreamingSpanDedup
      val run = streamRunSeq.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val base = tmpWorkDir(s"graft_q129_stream_$pid")
      val sinkName = s"q129_sink_$run"
      val spool = new java.io.File(base, s"spool-$run")
      spool.mkdirs()
      linkIntoSpool(spool, s"$dir/documents.parquet", copies = 1)
      val schema = s.read.parquet(s"$dir/documents.parquet").schema
      withStreamParts(s) { withRocksDb(s) {
        val docs = s.readStream.schema(schema)
          .parquet(spool.getAbsolutePath)
        val marks = runStreamToMemory(s, sinkName,
          new java.io.File(base, s"ckpt-$run"))(
          StreamingSpanDedup.markedStarts(docs, "doc_id", "doc_id",
            "text", minTokens = 8).toDF())
        SpanDedup.spansFromMarks(
            marks.select(col("id").as("doc_id"), col("pos")),
            "doc_id", "pos", minTokens = 8)
          .orderBy(col("doc_id").asc, col("start_tok").asc)
      } }
    },
    Some(s"""WITH ${spanCtes(8)}
      SELECT doc_id, start_tok, end_tok FROM sspans
      ORDER BY doc_id ASC, start_tok ASC"""))

  /** q130: int8 IVF top-k — q43's inverted-file pruning composed with
    * q50/q127's int8 storage form, the corpus-scale index story in ONE
    * plan: lists stored quantized (4× smaller), the coarse quantizer
    * prunes to nprobe lists, and the probed candidates rank by the
    * pure integer dot — no float decode of the index anywhere. Same
    * deterministic centroid subset as q43 (vec_id%100==0 — the
    * operator takes ANY centroid table, q58 proves the trained
    * composition), so the oracle replays assignment, pruning,
    * quantization and ranking bit-for-bit. */
  private val q130 = Q(
    "q130_int8_ivf_topk",
    (s, dir) => {
      import graft.operators.Similarity.{IvfInt8, IvfLifecycle}
      val emb = t(s, dir, "embeddings")
      val lists = IvfLifecycle.assign(IvfInt8,
        emb.filter(col("vec_id") =!= 1), "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding")
      IvfLifecycle.search(IvfInt8, lists, emb.filter(col("vec_id") === 1),
          "embedding", nprobe = 2, k = 10)
        .select(col("id").as("vec_id"), col("dot"))
        .orderBy(col("dot").desc, col("vec_id").asc)
    },
    Some(int8IvfOracle))

  /** q131: the COMPOSED multimodal curation pipeline — q121's analog
    * for media: aHash fingerprint → connectivity-equivalent Hamming
    * EDGE set (exact-sig star contraction + banded rep pairs with the
    * q123 skew cap — [[graft.operators.Dedup.hammingEdges]], the
    * corpus-scale form: exact re-ingest duplicates connect by one
    * hash aggregation, never band luck) → star-contraction connected
    * components → keep smallest id per duplicate cluster →
    * deterministic reshard. One DataFrame chain; the DuckDB oracle
    * replays the ALL-PAIRS chain (pixel-formula hashes → brute-force
    * distances → recursive-CTE closure → md5 shard assignment) — the
    * edge set's components are proven equal to all-pairs' (SkewSpec
    * differential + this oracle staying bit-identical across the
    * switch), so the result is unchanged.
    *
    * Exchange note (formatted plan, measured): the FINAL assembled
    * plan pays 4 exchanges (1 broadcast for the survivors' anti-join
    * side + 3 shuffles, reshard's shard exchange and per-shard sort
    * among them). Everything upstream sits behind the chain's
    * materialization points — hammingEdges materializes the narrow
    * (id, sig) projection and the rep table (the aHash decode runs
    * ONCE, never re-derived for histogram/join sides) and the CC loop
    * localCheckpoints per iteration (q45's design) — so no stage
    * re-derives an upstream lineage; the property q121 needed
    * explicit stage checkpoints for comes free here. */
  private val q131 = Q(
    "q131_media_pipeline",
    (s, dir) => {
      import graft.operators.{Curation, Multimodal}
      val imgs = imageDedupCorpus(s)
      // the composition is PARAMETERIZED by signature width
      // (Multimodal.perceptualDedup) — q131 pins the narrow 64-bit
      // form it has always oracled (thumbnail-scale corpus); q142
      // runs the same shape through the 256-bit scale default
      val survivors = Multimodal.perceptualDedup(imgs, "img_id",
        "payload", maxDist = 6, maxBucket = mediaMaxBucket, bits = 64)
      Curation.shuffleShards(survivors.select(col("img_id")),
          "img_id", seed = 7L, shards = 4)
        .select(col("img_id"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some(s"""WITH RECURSIVE $imageHashCtes,
      mpairs AS (SELECT a, b FROM dists WHERE dist <= 6),
      ${OracleSql.closureCtes("mpairs")}
      , surv AS (SELECT img_id FROM imgs
        WHERE img_id NOT IN (SELECT id FROM cc WHERE component <> id)),
      k AS (SELECT img_id,
        md5(concat('7', ':', CAST(img_id AS VARCHAR))) AS key
        FROM surv),
      sh AS (SELECT img_id, key,
        CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 4 AS BIGINT)
          AS shard FROM k)
      SELECT img_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, img_id ASC) AS BIGINT) AS seq
      FROM sh ORDER BY shard ASC, seq ASC"""))

  /** The q130 oracle, shared with q132: in-flight and persisted int8
    * IVF are DEFINED to produce identical rankings (q73's relation to
    * q58, now for the int8 form). */
  private lazy val int8IvfOracle: String = {
    def cos(a: String, b: String) =
      s"${OracleSql.dotSql(a, b, 64)} / " +
        s"(sqrt(${OracleSql.dotSql(a, a, 64)}) * " +
        s"sqrt(${OracleSql.dotSql(b, b, 64)}))"
    s"""WITH cent AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id % 100 = 0),
      q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 1),
      asg AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cv")} DESC NULLS LAST,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c WHERE e.vec_id <> 1) WHERE rn = 1),
      probes AS (SELECT cid FROM (
        SELECT c.cid FROM cent c, q
        ORDER BY ${cos("qv", "c.cv")} DESC NULLS LAST, c.cid ASC
        LIMIT 2)),
      cand AS (SELECT a.vec_id, a.embedding FROM asg a
               JOIN probes p ON a.cid = p.cid),
      cn AS (SELECT vec_id, embedding,
               sqrt(${OracleSql.dotSql("embedding", "embedding", 64)})
                 AS nrm FROM cand),
      cz AS (SELECT vec_id, i AS pos,
          CASE WHEN nrm <> 0 THEN
            CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127 / nrm + 0.5)
                 AS BIGINT) END AS q
        FROM cn, (SELECT unnest(range(1, 65)) AS i)),
      qn AS (SELECT qv, sqrt(${OracleSql.dotSql("qv", "qv", 64)})
               AS nrm FROM q),
      qz AS (SELECT i AS pos,
          CASE WHEN nrm <> 0 THEN
            CAST(FLOOR(CAST(qv[i] AS DOUBLE) * 127 / nrm + 0.5)
                 AS BIGINT) END AS q
        FROM qn, (SELECT unnest(range(1, 65)) AS i))
      SELECT c.vec_id, CAST(SUM(c.q * z.q) AS BIGINT) AS dot
      FROM cz c JOIN qz z ON c.pos = z.pos
      WHERE c.q IS NOT NULL AND z.q IS NOT NULL
      GROUP BY c.vec_id
      ORDER BY dot DESC, c.vec_id ASC LIMIT 10"""
  }

  /** q132: the PERSISTED int8 IVF index — q130's composition through
    * the on-disk artifact (q73's relation to q58): centroids + int8
    * lists written partitioned by cid, the search's `cid IN (probes)`
    * filter pruning whole partitions at the parquet scan (the probed
    * fraction is the only data read — at a 25 TB int8 index with
    * k=65536 lists and nprobe=32, a search reads ~12 GB). Built once
    * per process; repeated runs measure the search. Result defined
    * identical to q130's in-flight ranking — one oracle for both. */
  private val q132 = Q(
    "q132_int8_ivf_index",
    (s, dir) => {
      import graft.operators.Similarity.{IvfInt8, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val idxDir = tmpWorkDir(
        s"graft_q132_i8ivf_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      if (!new java.io.File(idxDir, "lists/_SUCCESS").exists())
        IvfLifecycle.build(IvfInt8, emb.filter(col("vec_id") =!= 1),
          "vec_id", "embedding",
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          idxDir.getAbsolutePath)
      IvfLifecycle.search(IvfInt8, OnDisk(idxDir.getAbsolutePath),
          emb.filter(col("vec_id") === 1), "embedding",
          nprobe = 2, k = 10)
        .select(col("id").as("vec_id"), col("dot"))
        .orderBy(col("dot").desc, col("vec_id").asc)
    },
    Some(int8IvfOracle))

  /** q133: batched int8 top-k — a PANEL of quantized queries ranked
    * against the quantized corpus in one plan (q42's batch shape for
    * the int8 form): panel broadcast, per-(q_id, id) integer dot
    * collapsed map-side, top-k per query by window rank. The proper
    * home for multi-vector query frames (q127's single-query ranker
    * rejects them by design). */
  private val q133 = Q(
    "q133_int8_topk_batch",
    (s, dir) => {
      import graft.operators.Similarity
      val emb = t(s, dir, "embeddings")
      val corpus = Similarity.quantizeInt8(
        emb.filter(col("vec_id") > 3), "vec_id", "embedding")
      val panel = Similarity.quantizeInt8(
          emb.filter(col("vec_id") <= 3), "vec_id", "embedding")
        .withColumnRenamed("vec_id", "q_id")
      Similarity.int8TopKBatch(corpus, "vec_id", "pos", "q",
          panel, "q_id", k = 5)
        .orderBy(col("q_id").asc, col("dot").desc, col("vec_id").asc)
    },
    Some(s"""WITH n AS (SELECT vec_id, embedding,
               sqrt(${OracleSql.dotSql("embedding", "embedding", 64)})
                 AS nrm
             FROM embeddings),
      qz AS (SELECT vec_id, i AS pos,
          CASE WHEN nrm <> 0 THEN
            CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127 / nrm + 0.5)
                 AS BIGINT) END AS q
        FROM n, (SELECT unnest(range(1, 65)) AS i)),
      corpus AS (SELECT * FROM qz WHERE vec_id > 3 AND q IS NOT NULL),
      panel AS (SELECT vec_id AS q_id, pos, q FROM qz
        WHERE vec_id <= 3 AND q IS NOT NULL),
      d AS (SELECT p.q_id, c.vec_id,
          CAST(SUM(c.q * p.q) AS BIGINT) AS dot
        FROM corpus c JOIN panel p ON c.pos = p.pos
        GROUP BY p.q_id, c.vec_id),
      r AS (SELECT q_id, vec_id, dot, row_number() OVER (
          PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rn
        FROM d)
      SELECT q_id, vec_id, dot FROM r WHERE rn <= 5
      ORDER BY q_id ASC, dot DESC, vec_id ASC"""))

  /** q134: classifier-GATED curation — the GPT-3/CCNet deployment
    * shape q126 trains for, composed end to end THROUGH THE ARTIFACT:
    * train the hashed log-odds classifier on the labeled slice (even
    * ids), persist it ([[TextAnalysis.saveClassifier]] — the
    * train-once/gate-many deployment the artifact exists for), reload
    * weights + bucket count from disk, gate the candidate pool (odd
    * ids) at score > 0, exact-dedup the survivors (digest scale
    * path), deterministic reshard. Every stage is the operator its
    * standalone query oracles (q126, q84, q120); reload is
    * bit-identical to in-flight weights (ContaminationSpec round-trip,
    * so the oracle — which replays the learned weights directly — is
    * unchanged by the artifact hop). */
  private val q134 = Q(
    "q134_classified_curation",
    (s, dir) => {
      import graft.operators.{Curation, Dedup, TextAnalysis}
      val docs = t(s, dir, "documents")
      val train = docs.filter(col("doc_id") % 2 === 0)
        .select(col("text"), (col("lang") === "en").as("label"))
      val clsDir = tmpWorkDir(
        s"graft_q134_cls_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      // guard on meta/_SUCCESS — the LAST artifact saveClassifier
      // writes (weights first, meta second), so a half-written
      // directory (interrupted between the two writes) re-trains
      // instead of passing the guard and failing loadClassifier on
      // the missing meta (ADVICE r19; q79's first-written-marker
      // lesson)
      if (!new java.io.File(clsDir, "meta/_SUCCESS").exists())
        TextAnalysis.saveClassifier(
          TextAnalysis.hashedOddsWeights(train, "text", "label",
            buckets = 4096),
          buckets = 4096, clsDir.getAbsolutePath)
      val (w, buckets) = TextAnalysis.loadClassifier(
        s, clsDir.getAbsolutePath)
      require(buckets == 4096,
        s"classifier artifact bucket drift: $buckets")
      val pool = docs.filter(col("doc_id") % 2 === 1)
      val kept = pool.join(
        TextAnalysis.scoreByHashedWeights(pool, "doc_id", "text", w,
            buckets = buckets)
          .filter(col("score") > 0).select(col("doc_id")),
        Seq("doc_id"), "left_semi")
      val deduped = Dedup.exactByDigest(kept, "doc_id", "text")
      Curation.shuffleShards(deduped.select(col("doc_id")),
          "doc_id", seed = 11L, shards = 4)
        .select(col("doc_id"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some("""WITH tr AS (SELECT (lang = 'en') AS y,
          unnest(list_filter(string_split(lower(text), ' '),
            x -> x <> '')) AS t
        FROM documents WHERE doc_id % 2 = 0),
      cnts AS (SELECT
          CAST(CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 4096
            AS BIGINT) AS bucket,
          SUM(CASE WHEN y THEN 1 ELSE 0 END) AS p,
          SUM(CASE WHEN y THEN 0 ELSE 1 END) AS n
        FROM tr GROUP BY 1),
      prior AS (SELECT CAST(FLOOR(10000 * (SUM(p) + 1)
          / (SUM(p) + SUM(n) + 2)) AS BIGINT) AS prior_bp FROM cnts),
      w AS (SELECT bucket,
          CAST(FLOOR(10000 * (p + 1) / (p + n + 2))
            - (SELECT prior_bp FROM prior) AS BIGINT) AS w_bp
        FROM cnts),
      te AS (SELECT doc_id,
          unnest(list_filter(string_split(lower(text), ' '),
            x -> x <> '')) AS t
        FROM documents WHERE doc_id % 2 = 1),
      tb AS (SELECT doc_id,
          CAST(CAST('0x' || substr(md5(t), 1, 12) AS BIGINT) % 4096
            AS BIGINT) AS bucket FROM te),
      sc AS (SELECT tb.doc_id,
          CAST(SUM(COALESCE(w.w_bp, 0)) AS BIGINT) AS score
        FROM tb LEFT JOIN w USING (bucket) GROUP BY tb.doc_id),
      kept AS (SELECT d.doc_id, d.text
        FROM documents d JOIN sc USING (doc_id)
        WHERE d.doc_id % 2 = 1 AND sc.score > 0),
      dd AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text),
      sk AS (SELECT doc_id,
        md5(concat('11', ':', CAST(doc_id AS VARCHAR))) AS key
        FROM dd),
      sh AS (SELECT doc_id, key,
        CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 4 AS BIGINT)
          AS shard FROM sk)
      SELECT doc_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, doc_id ASC) AS BIGINT) AS seq
      FROM sh ORDER BY shard ASC, seq ASC"""))

  /** q135: BATCHED search over the PERSISTED int8 IVF index — the one
    * composition q132 (persisted, single query) and q133 (batched,
    * unpruned) left open: a query PANEL against the on-disk artifact
    * with no driver loop. Per-query probe lists come from a window
    * top-nprobe over the broadcast centroid table (the panel never
    * collects), the probe UNION is the scan's literal `cid` partition
    * filter (bounded by |centroids| for ANY panel size), and each
    * list row fans out only to the queries that probed its cid before
    * the map-side-combined integer dot. Each (q_id, id) dot is
    * bit-identical to a loop of single searches (spec'd); the oracle
    * replays assignment → per-query probes → quantization → integer
    * dots → per-query top-k. */
  private val q135 = Q(
    "q135_int8_ivf_batch",
    (s, dir) => {
      import graft.operators.Similarity.{IvfInt8, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val idxDir = tmpWorkDir(
        s"graft_q135_i8ivfb_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      if (!new java.io.File(idxDir, "lists/_SUCCESS").exists())
        IvfLifecycle.build(IvfInt8, emb.filter(col("vec_id") > 3),
          "vec_id", "embedding",
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          idxDir.getAbsolutePath)
      IvfLifecycle.searchBatch(IvfInt8, OnDisk(idxDir.getAbsolutePath),
          emb.filter(col("vec_id") <= 3), "vec_id", "embedding",
          nprobe = 2, k = 5)
        .select(col("q_id"), col("id").as("vec_id"), col("dot"))
        .orderBy(col("q_id").asc, col("dot").desc, col("vec_id").asc)
    },
    Some(int8IvfBatchOracle))

  /** q136: the connectivity-equivalent Hamming EDGE set
    * ([[graft.operators.Dedup.hammingEdges]]) over the media corpus —
    * the corpus-scale replacement for the all-pairs join when the
    * consumer is a CC resolve (q131 now runs through it). The oracle
    * states the operator's exact contract from brute-force distances:
    * identical-signature groups (dist-0 closures) contribute one star
    * edge per non-min member, and the group representatives
    * contribute their ≤ maxDist pairs — so exact-dup recall is
    * provably structural (a hash aggregation), not band luck, and the
    * banded join runs over |distinct signatures| rows. The q131 cap
    * (maxBucket=8) is active and provably non-binding here (SkewSpec
    * pins the corpus' hottest band bucket under it). */
  private val q136 = Q(
    "q136_media_hamming_edges",
    (s, dir) => {
      import graft.operators.{Dedup, Multimodal}
      Dedup.hammingEdges(
          Multimodal.withAHash(imageDedupCorpus(s), "payload"),
          "img_id", "ahash", bits = 64, maxDist = 6,
          maxBucket = mediaMaxBucket)
        .orderBy(col("a").asc, col("b").asc)
    },
    Some(s"""WITH RECURSIVE $imageHashCtes,
      sym AS (SELECT a AS x, b AS y, dist FROM dists
        UNION ALL SELECT b AS x, a AS y, dist FROM dists),
      rep AS (SELECT i.img_id AS x,
          LEAST(i.img_id, COALESCE(MIN(CASE WHEN s.dist = 0
            THEN s.y END), i.img_id)) AS r
        FROM imgs i LEFT JOIN sym s ON s.x = i.img_id
        GROUP BY i.img_id),
      stars AS (SELECT r AS a, x AS b, CAST(0 AS BIGINT) AS dist
        FROM rep WHERE x <> r),
      reps AS (SELECT x FROM rep WHERE x = r),
      repe AS (SELECT d.a, d.b, d.dist FROM dists d
        JOIN reps ra ON d.a = ra.x
        JOIN reps rb ON d.b = rb.x
        WHERE d.dist BETWEEN 1 AND 6)
      SELECT a, b, dist FROM
        (SELECT * FROM stars UNION ALL SELECT * FROM repe)
      ORDER BY a ASC, b ASC"""))

  /** q137: the WIDE (256-bit, 16×16-grid) perceptual aHash — the
    * higher-entropy signature the replicated-corpus saturation
    * measurement calls for (SCALE.md "Wide (256-bit) signature
    * family": 64-bit aHash band values repeat across
    * genuinely different structured images, so banding saturates at
    * O(10³) images; 4× the bits give maxDist-6 bands ~37 bits wide).
    * Same integer-exact arithmetic as q122's narrow hash (sum-luma
    * box average, exact rational mean compare), emitted as 4 packed
    * little-endian words and oracled as the 64-hex-char big-endian
    * string — DuckDB replays every bit from the generator pixel
    * formula, 16-bit row values aggregated in hex so no 1<<63 sign
    * trap exists in either engine. */
  private val q137 = Q(
    "q137_image_ahash_wide",
    (s, dir) => {
      import graft.operators.Multimodal
      import s.implicits._
      val imgs = s.range(64)
        .filter(col("id") % 6 === 4 && col("id") % 7 =!= 0)
        .map(i => (i, Multimodal.encodeTestImage(i)))
        .toDF("id", "payload")
      Multimodal.withAHashWide(imgs, "payload")
        .select(col("id"),
          lower(concat((4 to 1 by -1).map(j =>
            lpad(hex(element_at(col("ahash_w"), j)), 16, "0")): _*))
            .as("ahash256_hex"))
        .orderBy(col("id").asc)
    },
    Some("""WITH ids AS (
        SELECT i, 8 + i % 9 AS w, 5 + (i * 3) % 11 AS h
        FROM range(64) t(i) WHERE i % 6 = 4 AND i % 7 <> 0),
      px AS (
        SELECT i,
          ((i * 2654435761 + xx.x * 31 + yy.y) % 16777216) AS pv,
          (xx.x * 16) // w AS cu, (yy.y * 16) // h AS cv
        FROM ids,
          (SELECT unnest(generate_series(0, 16)) AS x) xx,
          (SELECT unnest(generate_series(0, 15)) AS y) yy
        WHERE xx.x < w AND yy.y < h),
      lum AS (SELECT i, cu, cv,
          SUM(((pv >> 16) & 255) + ((pv >> 8) & 255) + (pv & 255)) AS cs,
          COUNT(*) AS cn
        FROM px GROUP BY i, cu, cv),
      tot AS (SELECT i, SUM(cs) AS ts, SUM(cn) AS tn
        FROM lum GROUP BY i),
      grid AS (SELECT gu, gv FROM
        (SELECT unnest(generate_series(0, 15)) AS gu),
        (SELECT unnest(generate_series(0, 15)) AS gv)),
      cells AS (SELECT t.i, g.gu, g.gv,
          COALESCE(l.cs, 0) AS cs, COALESCE(l.cn, 0) AS cn, t.ts, t.tn
        FROM tot t CROSS JOIN grid g
        LEFT JOIN lum l ON l.i = t.i AND l.cu = g.gu AND l.cv = g.gv),
      rowvals AS (SELECT i, gv,
          CAST(SUM(CASE WHEN cs * tn > ts * cn
            THEN (1 << gu) ELSE 0 END) AS BIGINT) AS rv
        FROM cells GROUP BY i, gv)
      SELECT i AS id,
        string_agg(printf('%04x', rv), '' ORDER BY gv DESC)
          AS ahash256_hex
      FROM rowvals GROUP BY i ORDER BY id ASC"""))

  /** q138: banded Hamming pairs over the WIDE signature
    * ([[graft.operators.Dedup.hammingPairs]] on an `array<bigint>`
    * signature) on the media
    * corpus — same pigeonhole contract as q123, bands spanning word
    * boundaries (256 bits / 7 bands ≈ 37 bits each), distance =
    * Σ popcount(xor) across the 4 words. The oracle brute-forces
    * all pairs from the 16×16 pixel-formula hashes (row-wise 16-bit
    * XOR popcounts summed — never assembles a signed 64-bit word). */
  private val q138 = Q(
    "q138_image_neardup_wide",
    (s, dir) => {
      import graft.operators.{Dedup, Multimodal}
      Dedup.hammingPairs(
          Multimodal.withAHashWide(imageDedupCorpus(s), "payload"),
          "img_id", "ahash_w", bits = 256, maxDist = 6)
        .orderBy(col("a").asc, col("b").asc)
    },
    Some(s"""WITH $imageHashWideCtes
      SELECT a, b, dist FROM dists WHERE dist <= 6
      ORDER BY a ASC, b ASC"""))

  /** Shared oracle CTE chain for q138/q142: recompute every WIDE
    * (16×16) aHash from the generator pixel formula as 16 per-row
    * 16-bit values (never assembling a signed 64-bit word), then
    * brute-force all-pairs distances as Σ of row-wise XOR popcounts.
    * Exposes `imgs(img_id, src)` and `dists(a, b, dist)` — the wide
    * counterpart of [[imageHashCtes]]. */
  private lazy val imageHashWideCtes: String =
    """srcs AS (
        SELECT i, 8 + i % 9 AS w, 5 + (i * 3) % 11 AS h
        FROM (VALUES (4), (10), (16), (22), (34), (40), (46), (52),
          (58)) t(i)),
      px AS (
        SELECT i,
          ((i * 2654435761 + xx.x * 31 + yy.y) % 16777216) AS pv,
          (xx.x * 16) // w AS cu, (yy.y * 16) // h AS cv
        FROM srcs,
          (SELECT unnest(generate_series(0, 16)) AS x) xx,
          (SELECT unnest(generate_series(0, 15)) AS y) yy
        WHERE xx.x < w AND yy.y < h),
      lum AS (SELECT i, cu, cv,
          SUM(((pv >> 16) & 255) + ((pv >> 8) & 255) + (pv & 255)) AS cs,
          COUNT(*) AS cn
        FROM px GROUP BY i, cu, cv),
      tot AS (SELECT i, SUM(cs) AS ts, SUM(cn) AS tn
        FROM lum GROUP BY i),
      grid AS (SELECT gu, gv FROM
        (SELECT unnest(generate_series(0, 15)) AS gu),
        (SELECT unnest(generate_series(0, 15)) AS gv)),
      rowvals AS (SELECT t.i, g.gv,
          CAST(SUM(CASE WHEN COALESCE(l.cs, 0) * t.tn >
            t.ts * COALESCE(l.cn, 0) THEN (1 << g.gu) ELSE 0 END)
            AS BIGINT) AS rv
        FROM tot t CROSS JOIN grid g
        LEFT JOIN lum l ON l.i = t.i AND l.cu = g.gu AND l.cv = g.gv
        GROUP BY t.i, g.gv),
      imgs AS (SELECT i AS img_id, i AS src FROM srcs
        UNION ALL SELECT i + 100, i FROM srcs),
      allp AS (SELECT a.img_id AS a, b.img_id AS b,
          a.src AS sa, b.src AS sb
        FROM imgs a JOIN imgs b ON a.img_id < b.img_id),
      dists AS (SELECT p.a, p.b,
          CAST(SUM(bit_count(xor(ra.rv, rb.rv))) AS BIGINT) AS dist
        FROM allp p
        JOIN rowvals ra ON ra.i = p.sa
        JOIN rowvals rb ON rb.i = p.sb AND rb.gv = ra.gv
        GROUP BY p.a, p.b)"""

  /** q142: the composed media pipeline on the WIDE signature family —
    * q131's exact shape (hash → connectivity-equivalent Hamming edges
    * → star-contraction CC → keep smallest id → deterministic
    * reshard) through [[graft.operators.Multimodal.perceptualDedup]]'s
    * SCALE DEFAULT (`bits = 256`, the r19 measurement wired into the
    * production composition): 256-bit 16×16 aHash, `hammingEdges` at
    * the measured precision budget d≤3, the q131 skew cap. The DuckDB oracle replays the whole
    * chain — wide hashes from the pixel formula, brute-force
    * all-pairs distances, recursive-CTE closure, md5 reshard — so the
    * edge set's connectivity equivalence is proven against all-pairs
    * on the wide family exactly as q131's oracle proves it on the
    * narrow. */
  private val q142 = Q(
    "q142_media_pipeline_wide",
    (s, dir) => {
      import graft.operators.{Curation, Multimodal}
      val imgs = imageDedupCorpus(s)
      val survivors = Multimodal.perceptualDedup(imgs, "img_id",
        "payload", maxDist = 3, maxBucket = mediaMaxBucket)
      Curation.shuffleShards(survivors.select(col("img_id")),
          "img_id", seed = 17L, shards = 4)
        .select(col("img_id"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some(s"""WITH RECURSIVE $imageHashWideCtes,
      mpairs AS (SELECT a, b FROM dists WHERE dist <= 3),
      ${OracleSql.closureCtes("mpairs")}
      , surv AS (SELECT img_id FROM imgs
        WHERE img_id NOT IN (SELECT id FROM cc WHERE component <> id)),
      k AS (SELECT img_id,
        md5(concat('17', ':', CAST(img_id AS VARCHAR))) AS key
        FROM surv),
      sh AS (SELECT img_id, key,
        CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 4 AS BIGINT)
          AS shard FROM k)
      SELECT img_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, img_id ASC) AS BIGINT) AS seq
      FROM sh ORDER BY shard ASC, seq ASC"""))

  /** Shared q139/q140 oracle CTE chain — train the bigram counts on
    * the even ids, emit per-occurrence surprisal bits for the odd ids
    * (ONE definition so the standalone scorer and the composed
    * pipeline cannot drift). Exposes `bits(doc_id, bt)`. */
  private lazy val bigramBitsCtes: String =
    s"""tr AS (SELECT
        unnest(${OracleSql.shinglesSql("lower(text)", 2)}) AS g
        FROM documents WHERE doc_id % 2 = 0),
      cnts AS (SELECT string_split(g, ' ')[1] AS w1,
          string_split(g, ' ')[2] AS w2, COUNT(*) AS c
        FROM tr GROUP BY 1, 2),
      pfx AS (SELECT w1, SUM(c) AS c1 FROM cnts GROUP BY w1),
      voc AS (SELECT COUNT(DISTINCT w2) AS v FROM cnts),
      te AS (SELECT doc_id,
          unnest(${OracleSql.shinglesSql("lower(text)", 2)}) AS g
        FROM documents WHERE doc_id % 2 = 1),
      occ AS (SELECT doc_id, string_split(g, ' ')[1] AS w1,
          string_split(g, ' ')[2] AS w2 FROM te),
      sc AS (SELECT o.doc_id,
          COALESCE(p.c1, 0) + (SELECT v FROM voc) AS a,
          COALESCE(c.c, 0) + 1 AS b
        FROM occ o
        LEFT JOIN cnts c ON c.w1 = o.w1 AND c.w2 = o.w2
        LEFT JOIN pfx p ON p.w1 = o.w1),
      bits AS (SELECT doc_id,
          (length(bin(a)) - 1) - (length(bin(b)) - 1)
            - (CASE WHEN (a >> ((length(bin(a)) - 1)
                - (length(bin(b)) - 1))) < b THEN 1 ELSE 0 END) AS bt
        FROM sc)"""

  /** q139: CCNet-style bigram-LM surprisal scoring — the curation
    * stage between the rule gate (q119) and the trained classifier
    * (q126/q134): train a bigram model on the reference slice (even
    * ids), score the pool (odd ids) by mean surprisal in whole bits,
    * integer-exact on both engines (floor-log2 of the smoothed
    * rational via bin()-length + shift compare — no transcendental
    * call, so DuckDB replays every bit). */
  private val q139 = Q(
    "q139_bigram_surprisal",
    (s, dir) => {
      import graft.operators.TextAnalysis
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.trainBigramLm(
        docs.filter(col("doc_id") % 2 === 0), "text")
      TextAnalysis.bigramSurprisal(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lm)
        .orderBy(col("doc_id").asc)
    },
    Some(s"""WITH $bigramBitsCtes,
      agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
          CAST(SUM(bt) AS BIGINT) AS sum_bits FROM bits
        GROUP BY doc_id)
      SELECT d.doc_id,
        COALESCE(a.n_bigrams, 0) AS n_bigrams,
        COALESCE(a.sum_bits, 0) AS sum_bits,
        COALESCE(CAST(FLOOR(100 * a.sum_bits / a.n_bigrams) AS BIGINT),
          0) AS mean_cb
      FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) d
      LEFT JOIN agg a USING (doc_id)
      ORDER BY doc_id ASC"""))

  /** q140: the COMPOSED CCNet curation chain — q139's surprisal
    * scores cut at the exact 2/3 quantile (q95's order-statistic
    * operator, global key), keep the low-perplexity head+middle,
    * digest-dedup the survivors, deterministic reshard. The Wenzek et
    * al. 2020 deployment shape end to end, every stage the operator
    * its standalone query oracles (q139, q95, q84, q120); bigram-less
    * docs route out before the LM (the CCNet length rule's job). */
  private val q140 = Q(
    "q140_ccnet_pipeline",
    (s, dir) => {
      import graft.operators.{Curation, Dedup, Sketches, TextAnalysis}
      val docs = t(s, dir, "documents")
      val lm = TextAnalysis.trainBigramLm(
        docs.filter(col("doc_id") % 2 === 0), "text")
      val scores = TextAnalysis.bigramSurprisal(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lm)
        .filter(col("n_bigrams") > 0)
        // stage materialization (r21, the q121 convention): the
        // scoring chain (LM train + three joins) feeds BOTH the
        // global quantile cut and the kept-docs filter join; the
        // un-keyed cut needs (mean_cb) clustering while the join
        // needs doc_id, so no single exchange can be the shared root
        // (q143's trick) — checkpoint the two-column projection once
        .select(col("doc_id"), col("mean_cb"))
        .localCheckpoint()
      val t2 = Sketches.quantilesByValue(scores, Nil, "mean_cb",
          Seq(6666))
        .agg(min(col("q_value")).as("__t2"))
      val kept = scores.crossJoin(broadcast(t2))
        .filter(col("mean_cb") <= col("__t2"))
        .select(col("doc_id"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"))
      val deduped = Dedup.exactByDigest(kept, "doc_id", "text")
      Curation.shuffleShards(deduped.select(col("doc_id")),
          "doc_id", seed = 13L, shards = 4)
        .select(col("doc_id"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some(s"""WITH $bigramBitsCtes,
      scores AS (SELECT doc_id,
          CAST(FLOOR(100 * SUM(bt) / COUNT(*)) AS BIGINT) AS mean_cb
        FROM bits GROUP BY doc_id),
      qc AS (SELECT mean_cb, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM scores GROUP BY mean_cb),
      qw AS (SELECT mean_cb, cnt,
          CAST(SUM(cnt) OVER (ORDER BY mean_cb ASC
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS cum,
          CAST(SUM(cnt) OVER () AS BIGINT) AS total
        FROM qc),
      t2 AS (SELECT MIN(mean_cb) AS t2 FROM qw
        WHERE cum >= ((6666 * (total - 1)) // 10000) + 1),
      kept AS (SELECT d.doc_id, d.text
        FROM documents d JOIN scores s USING (doc_id)
        WHERE s.mean_cb <= (SELECT t2 FROM t2)),
      dd AS (SELECT MIN(doc_id) AS doc_id FROM kept GROUP BY text),
      sk AS (SELECT doc_id,
        md5(concat('13', ':', CAST(doc_id AS VARCHAR))) AS key
        FROM dd),
      sh AS (SELECT doc_id, key,
        CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 4 AS BIGINT)
          AS shard FROM sk)
      SELECT doc_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, doc_id ASC) AS BIGINT) AS seq
      FROM sh ORDER BY shard ASC, seq ASC"""))

  /** q141: the IN-FLIGHT int8 IVF panel search — q135's composition
    * without the artifact (q130's relation to q132, for panels),
    * completing the {single, batch} × {in-flight, persisted} search
    * matrix. Fully lazy: the (q_id, cid) probe broadcast's inner join
    * IS the prune (no literal filter, no driver collect anywhere).
    * Defined identical to q135's ranking — one oracle for both. */
  private val q141 = Q(
    "q141_int8_ivf_batch_inflight",
    (s, dir) => {
      import graft.operators.Similarity.{IvfInt8, IvfLifecycle}
      val emb = t(s, dir, "embeddings")
      val lists = IvfLifecycle.assign(IvfInt8,
        emb.filter(col("vec_id") > 3), "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding")
      IvfLifecycle.searchBatch(IvfInt8, lists,
          emb.filter(col("vec_id") <= 3), "vec_id", "embedding",
          nprobe = 2, k = 5)
        .select(col("q_id"), col("id").as("vec_id"), col("dot"))
        .orderBy(col("q_id").asc, col("dot").desc, col("vec_id").asc)
    },
    Some(int8IvfBatchOracle))

  /** The q135 oracle: int8IvfOracle's chain with q133's panel shape —
    * per-query probes instead of one probe list, per-query top-k. */
  private lazy val int8IvfBatchOracle: String =
    s"""WITH $int8IvfPanelDotsCtes,
      r AS (SELECT q_id, vec_id, dot, row_number() OVER (
          PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rn
        FROM d)
      SELECT q_id, vec_id, dot FROM r WHERE rn <= 5
      ORDER BY q_id ASC, dot DESC, vec_id ASC"""

  /** Exact cosine over DuckDB list columns (shared by the panel-probe
    * oracle chains). */
  private def cosSql(a: String, b: String): String =
    s"${OracleSql.dotSql(a, b, 64)} / " +
      s"(sqrt(${OracleSql.dotSql(a, a, 64)}) * " +
      s"sqrt(${OracleSql.dotSql(b, b, 64)}))"

  /** Shared q135/q141/q144/q145 CTE chain — the panel's per-(q_id,
    * vec_id) integer dots over the probed int8 lists, with the PROBE
    * SELECTION pluggable (flat top-nprobe for q135/q141/q144,
    * two-level for q145). `probesCte` must define
    * `probes(q_id, cid)`; the chain exposes `qs(q_id, qv)` and
    * `d(q_id, vec_id, dot)`. */
  private def int8IvfPanelDots(probesCte: String): String = {
    def cos(a: String, b: String) = cosSql(a, b)
    s"""cent AS (SELECT vec_id AS cid, embedding AS cv
             FROM embeddings WHERE vec_id % 100 = 0),
      qs AS (SELECT vec_id AS q_id, embedding AS qv
             FROM embeddings WHERE vec_id <= 3),
      asg AS (SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY ${cos("e.embedding", "c.cv")} DESC NULLS LAST,
                          c.cid ASC) AS rn
        FROM embeddings e, cent c WHERE e.vec_id > 3) WHERE rn = 1),
      $probesCte,
      cn AS (SELECT vec_id, embedding, cid,
               sqrt(${OracleSql.dotSql("embedding", "embedding", 64)})
                 AS nrm FROM asg),
      cz AS (SELECT vec_id, cid, i AS pos,
          CASE WHEN nrm <> 0 THEN
            CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 127 / nrm + 0.5)
                 AS BIGINT) END AS q
        FROM cn, (SELECT unnest(range(1, 65)) AS i)),
      qn AS (SELECT q_id, qv,
               sqrt(${OracleSql.dotSql("qv", "qv", 64)}) AS nrm FROM qs),
      qz AS (SELECT q_id, i AS pos,
          CASE WHEN nrm <> 0 THEN
            CAST(FLOOR(CAST(qv[i] AS DOUBLE) * 127 / nrm + 0.5)
                 AS BIGINT) END AS q
        FROM qn, (SELECT unnest(range(1, 65)) AS i)),
      d AS (SELECT p.q_id, c.vec_id,
          CAST(SUM(c.q * z.q) AS BIGINT) AS dot
        FROM probes p
        JOIN cz c ON c.cid = p.cid
        JOIN qz z ON z.q_id = p.q_id AND z.pos = c.pos
        WHERE c.q IS NOT NULL AND z.q IS NOT NULL
        GROUP BY p.q_id, c.vec_id)"""
  }

  /** The FLAT probe selection (q135/q141/q144): per-query top-nprobe
    * over ALL centroids. */
  private lazy val int8IvfPanelDotsCtes: String =
    int8IvfPanelDots(s"""probes AS (SELECT q_id, cid FROM (
        SELECT q.q_id, c.cid,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY ${cosSql("q.qv", "c.cv")} DESC NULLS LAST,
                          c.cid ASC) AS rn
        FROM qs q, cent c) WHERE rn <= 2)""")

  /** q145: TWO-LEVEL probe assignment for the in-flight panel search
    * ([[graft.operators.Similarity.IvfLifecycle.addCoarse]]) —
    * the answer to the flat form's |panel|·|centroids| probe stage
    * (r19 "What's wrong" #2): each CENTROID is assigned once to its
    * nearest coarse cell (query-independent), a query ranks only the
    * ~√|centroids| coarse cells, and the final top-nprobe centroid
    * pick ranks only the centroids inside the probed cells. Probing
    * is APPROXIMATE by design (a top centroid in an unprobed cell is
    * missed — IVF's own trade, one level up); the oracle replays the
    * exact two-level selection, so the approximation itself is the
    * pinned contract. Downstream (panel broadcast, inner-join prune,
    * map-side dots, window top-k) is q141's verbatim. */
  private val q145 = Q(
    "q145_int8_ivf_two_level",
    (s, dir) => {
      import graft.operators.Similarity.{IvfInt8, IvfLifecycle}
      val emb = t(s, dir, "embeddings")
      val lists = IvfLifecycle.addCoarse(
        IvfLifecycle.assign(IvfInt8,
          emb.filter(col("vec_id") > 3), "vec_id", "embedding",
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding"),
        emb.filter(col("vec_id") % 400 === 0), "vec_id", "embedding")
      IvfLifecycle.searchBatch(IvfInt8, lists,
          emb.filter(col("vec_id") <= 3), "vec_id", "embedding",
          nprobe = 2, k = 5, nprobeCoarse = Some(2))
        .select(col("q_id"), col("id").as("vec_id"), col("dot"))
        .orderBy(col("q_id").asc, col("dot").desc, col("vec_id").asc)
    },
    Some(int8IvfTwoLevelOracle))

  /** The q145/q146 oracle — int8IvfBatchOracle's chain with the
    * TWO-LEVEL probe selection (in-flight and persisted two-level
    * search are DEFINED to rank identically, q135/q141's relation). */
  private lazy val int8IvfTwoLevelOracle: String =
    s"""WITH ${int8IvfPanelDots(s"""
      co AS (SELECT vec_id AS gid, embedding AS gv
             FROM embeddings WHERE vec_id % 400 = 0),
      cellof AS (SELECT cid, gid FROM (
        SELECT c.cid, g.gid,
               row_number() OVER (PARTITION BY c.cid
                 ORDER BY ${cosSql("c.cv", "g.gv")} DESC NULLS LAST,
                          g.gid ASC) AS rn
        FROM cent c, co g) WHERE rn = 1),
      qcells AS (SELECT q_id, gid FROM (
        SELECT q.q_id, g.gid,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY ${cosSql("q.qv", "g.gv")} DESC NULLS LAST,
                          g.gid ASC) AS rn
        FROM qs q, co g) WHERE rn <= 2),
      probes AS (SELECT q_id, cid FROM (
        SELECT qc.q_id, cf.cid,
               row_number() OVER (PARTITION BY qc.q_id
                 ORDER BY ${cosSql("q.qv", "c.cv")} DESC NULLS LAST,
                          cf.cid ASC) AS rn
        FROM qcells qc
        JOIN cellof cf ON cf.gid = qc.gid
        JOIN qs q ON q.q_id = qc.q_id
        JOIN cent c ON c.cid = cf.cid) WHERE rn <= 2)""")},
      r AS (SELECT q_id, vec_id, dot, row_number() OVER (
          PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rn
        FROM d)
      SELECT q_id, vec_id, dot FROM r WHERE rn <= 5
      ORDER BY q_id ASC, dot DESC, vec_id ASC"""

  /** q146: TWO-LEVEL batch search over the PERSISTED int8 index —
    * q145's artifact form (q132's relation to q130, for two-level
    * probing), completing the {flat, two-level} × {in-flight,
    * persisted} probe matrix: the coarse quantizer and the
    * centroid→cell assignment live IN the index
    * ([[graft.operators.Similarity.IvfLifecycle.addCoarse]] — the
    * assignment is query-independent, so build time pays it once for
    * every panel the index ever serves), and the search's probe-union literal
    * still prunes list partitions at the parquet scan. Ranking
    * defined identical to q145's — one oracle for both. */
  private val q146 = Q(
    "q146_int8_ivf_two_level_idx",
    (s, dir) => {
      import graft.operators.Similarity.{IvfInt8, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val idxDir = tmpWorkDir(
        s"graft_q146_i8tl_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      val index = OnDisk(idxDir.getAbsolutePath)
      if (!new java.io.File(idxDir, "lists/_SUCCESS").exists())
        IvfLifecycle.build(IvfInt8, emb.filter(col("vec_id") > 3),
          "vec_id", "embedding",
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          idxDir.getAbsolutePath)
      if (!new java.io.File(idxDir, "cellof/_SUCCESS").exists())
        IvfLifecycle.addCoarse(index,
          emb.filter(col("vec_id") % 400 === 0), "vec_id", "embedding")
      IvfLifecycle.searchBatch(IvfInt8, index,
          emb.filter(col("vec_id") <= 3), "vec_id", "embedding",
          nprobe = 2, k = 5, nprobeCoarse = Some(2))
        .select(col("q_id"), col("id").as("vec_id"), col("dot"))
        .orderBy(col("q_id").asc, col("dot").desc, col("vec_id").asc)
    },
    Some(int8IvfTwoLevelOracle))

  /** q147: the composed wide media pipeline WITH the pixel-level
    * VERIFY stage — q142 plus
    * [[graft.operators.Multimodal.verifyPairsByLumaGrid]] between the
    * edge set and the closure (the candidates→verify split every
    * text-dedup family here uses, built because SCALE.md r20 MEASURED
    * the need: the 256-bit hash near-collides on genuinely different
    * images at ~10⁻⁵ per pair, and at a quadratic pair budget CC
    * transitivity turns that into an ~8% survivor shortfall at 18K
    * images; with verify the precision is corpus-size-independent —
    * the replicated-corpus verify column lands EXACTLY on the planted
    * ground truth, SCALE.md "The verify stage (q147)"). The oracle
    * replays the verify arithmetic bit-for-bit: quantized cell lumas
    * floor(256·cs/cn) (0 for uncovered cells), per-pair L1 over the
    * 16×16 grid, budget 8·256. */
  private val q147 = Q(
    "q147_media_pipeline_verified",
    (s, dir) => {
      import graft.operators.{Curation, Multimodal}
      val imgs = imageDedupCorpus(s)
      val survivors = Multimodal.perceptualDedup(imgs, "img_id",
        "payload", maxDist = 3, maxBucket = mediaMaxBucket,
        verifyMaxAvgDiff = Some(8L))
      Curation.shuffleShards(survivors.select(col("img_id")),
          "img_id", seed = 19L, shards = 4)
        .select(col("img_id"), col("shard"), col("seq"))
        .orderBy(col("shard").asc, col("seq").asc)
    },
    Some(s"""WITH RECURSIVE $imageHashWideCtes,
      glq AS (SELECT t.i, g.gu, g.gv,
          COALESCE((256 * l.cs) // l.cn, 0) AS ql
        FROM tot t CROSS JOIN grid g
        LEFT JOIN lum l ON l.i = t.i AND l.cu = g.gu AND l.cv = g.gv),
      pl1 AS (SELECT p.a, p.b,
          CAST(SUM(ABS(qa.ql - qb.ql)) AS BIGINT) AS l1
        FROM allp p
        JOIN glq qa ON qa.i = p.sa
        JOIN glq qb ON qb.i = p.sb AND qb.gu = qa.gu
          AND qb.gv = qa.gv
        GROUP BY p.a, p.b),
      mpairs AS (SELECT d.a, d.b FROM dists d
        JOIN pl1 ON pl1.a = d.a AND pl1.b = d.b
        WHERE d.dist <= 3 AND pl1.l1 <= 8 * 256),
      ${OracleSql.closureCtes("mpairs")}
      , surv AS (SELECT img_id FROM imgs
        WHERE img_id NOT IN (SELECT id FROM cc WHERE component <> id)),
      k AS (SELECT img_id,
        md5(concat('19', ':', CAST(img_id AS VARCHAR))) AS key
        FROM surv),
      sh AS (SELECT img_id, key,
        CAST(CAST('0x' || substr(key, 1, 12) AS BIGINT) % 4 AS BIGINT)
          AS shard FROM k)
      SELECT img_id, shard,
        CAST(ROW_NUMBER() OVER (PARTITION BY shard
          ORDER BY key ASC, img_id ASC) AS BIGINT) AS seq
      FROM sh ORDER BY shard ASC, seq ASC"""))

  /** q143: PER-LANGUAGE CCNet — the deployment shape Wenzek et al.
    * 2020 actually run (one LM per language, each doc scored against
    * its OWN language's model, the perplexity cut taken WITHIN
    * language): q19's langId expression slices the corpus, the q139
    * bigram LM trains per slice (trainBigramLm keyCols — still ONE
    * map-side-combined aggregation, shuffle bounded by Σ per-language
    * vocabulary), each pool doc joins its language's model/prefix
    * tables on (lang, gram) keys (planner-chosen, never
    * hint-broadcast), and the exact 2/3-quantile cut runs per
    * language (quantilesByValue keyed — the threshold table is
    * ≤ |languages| rows, broadcast by the planner into one final
    * filter join). Output: the kept docs with their language and
    * score. The DuckDB oracle replays the WHOLE chain partitioned by
    * the langId CASE expression — training counts, integer-exact
    * floor-log2 bits, per-language cumulative-count quantile,
    * final cut. */
  private val q143 = Q(
    "q143_ccnet_perlang",
    (s, dir) => {
      import graft.operators.{Sketches, TextAnalysis}
      val docs = t(s, dir, "documents")
        .withColumn("pred", TextAnalysis.langId(col("text")))
      val lm = TextAnalysis.trainBigramLm(
        docs.filter(col("doc_id") % 2 === 0), "text",
        keyCols = Seq("pred"))
      val scores = TextAnalysis.bigramSurprisal(
          docs.filter(col("doc_id") % 2 === 1), "doc_id", "text", lm,
          keyCols = Seq("pred"))
        .filter(col("n_bigrams") > 0)
        // pred-keyed exchange as the shared root: the scoring chain
        // (langId + three LM joins) feeds BOTH the quantile cut and
        // the final filter join — without a common exchange each
        // consumer re-derives it (r21 measured the whole chain twice
        // in the plan). hash(pred) satisfies the cut's groupBy
        // (pred, mean_cb) clustering and its per-pred window, and the
        // cuts join broadcasts, so this is the ONLY exchange the fan-
        // out needs and ReuseExchange computes the chain once.
        .repartition(col("pred"))
      val cuts = Sketches.quantilesByValue(scores, Seq("pred"),
          "mean_cb", Seq(6666))
        .select(col("pred"), col("q_value").as("__t2"))
      scores.join(cuts, Seq("pred"))
        .filter(col("mean_cb") <= col("__t2"))
        .select(col("doc_id"), col("pred").as("lang_pred"),
          col("mean_cb"))
        .orderBy(col("doc_id").asc)
    }, {
      import graft.operators.TextAnalysis
      val ordered = TextAnalysis.stopwords.toSeq.sortBy(_._1)
      val withCols = ordered.map { case (lang, ws) =>
        val inList = ws.map(w => s"'$w'").mkString(", ")
        s"len(list_filter(string_split(lower(text), ' '), " +
          s"w -> w IN ($inList))) AS c_$lang"
      }.mkString(", ")
      val best = "greatest(" + ordered.map(l => s"c_${l._1}")
        .mkString(", ") + ")"
      val predCase = ordered.map { case (l, _) =>
        s"WHEN c_$l = __best AND __best > 0 THEN '$l'"
      }.mkString(" ")
      Some(s"""WITH lc AS (SELECT doc_id, text, $withCols
          FROM documents),
        lb AS (SELECT *, $best AS __best FROM lc),
        ldocs AS (SELECT doc_id, text,
          CASE $predCase ELSE 'und' END AS pred FROM lb),
        tr AS (SELECT pred,
            unnest(${OracleSql.shinglesSql("lower(text)", 2)}) AS g
          FROM ldocs WHERE doc_id % 2 = 0),
        cnts AS (SELECT pred, string_split(g, ' ')[1] AS w1,
            string_split(g, ' ')[2] AS w2, COUNT(*) AS c
          FROM tr GROUP BY 1, 2, 3),
        pfx AS (SELECT pred, w1, SUM(c) AS c1 FROM cnts GROUP BY 1, 2),
        voc AS (SELECT pred, COUNT(DISTINCT w2) AS v FROM cnts
          GROUP BY 1),
        te AS (SELECT doc_id, pred,
            unnest(${OracleSql.shinglesSql("lower(text)", 2)}) AS g
          FROM ldocs WHERE doc_id % 2 = 1),
        occ AS (SELECT doc_id, pred, string_split(g, ' ')[1] AS w1,
            string_split(g, ' ')[2] AS w2 FROM te),
        sc AS (SELECT o.doc_id, o.pred,
            COALESCE(p.c1, 0) + COALESCE(v.v, 0) AS a,
            COALESCE(c.c, 0) + 1 AS b
          FROM occ o
          LEFT JOIN cnts c ON c.pred = o.pred AND c.w1 = o.w1
            AND c.w2 = o.w2
          LEFT JOIN pfx p ON p.pred = o.pred AND p.w1 = o.w1
          LEFT JOIN voc v ON v.pred = o.pred),
        bits AS (SELECT doc_id, pred,
            (length(bin(a)) - 1) - (length(bin(b)) - 1)
              - (CASE WHEN (a >> ((length(bin(a)) - 1)
                  - (length(bin(b)) - 1))) < b THEN 1 ELSE 0 END) AS bt
          FROM sc),
        scores AS (SELECT doc_id, pred,
            CAST(FLOOR(100 * SUM(bt) / COUNT(*)) AS BIGINT) AS mean_cb
          FROM bits GROUP BY doc_id, pred),
        qc AS (SELECT pred, mean_cb, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM scores GROUP BY 1, 2),
        qw AS (SELECT pred, mean_cb, cnt,
            CAST(SUM(cnt) OVER (PARTITION BY pred ORDER BY mean_cb ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
            CAST(SUM(cnt) OVER (PARTITION BY pred) AS BIGINT) AS total
          FROM qc),
        t2 AS (SELECT pred, MIN(mean_cb) AS t2 FROM qw
          WHERE cum >= ((6666 * (total - 1)) // 10000) + 1
          GROUP BY pred)
        SELECT s.doc_id, s.pred AS lang_pred, s.mean_cb
        FROM scores s JOIN t2 ON t2.pred = s.pred
        WHERE s.mean_cb <= t2.t2
        ORDER BY s.doc_id ASC""")
    })

  /** q144: over-fetch + exact f32 re-rank THROUGH THE API — the
    * measured compensation for int8 thin-margin rank inversions
    * (SCALE.md recall table; r19 directive #3) as a [[Similarity
    * .Refine]] option on the lifecycle search instead of a hand-built
    * re-join: q135's batched persisted-index search keeps 3k+1 = 16
    * candidates per query by the integer dot, then the exact cosine
    * against the caller-supplied f32 corpus re-ranks that short list
    * to the final top-5. The oracle replays the whole chain — integer
    * dots → per-query top-16 cut → exact cosine over exactly that
    * candidate set → re-ranked top-5 (rounded to 6 dp for the output,
    * ordered BY the rounded value so both engines sort identically).
    * The re-rank's scale shape: one pass over the f32 corpus pruned
    * map-side by the broadcast candidate list (≤ |panel|·16 rows) —
    * cost independent of corpus size. */
  private val q144 = Q(
    "q144_int8_refine_search",
    (s, dir) => {
      import graft.operators.Similarity
      import Similarity.{IvfInt8, IvfLifecycle, OnDisk}
      val emb = t(s, dir, "embeddings")
      val idxDir = tmpWorkDir(
        s"graft_q144_refine_${ProcessHandle.current().pid()}_" +
          dir.replaceAll("[^A-Za-z0-9]", "_"))
      if (!new java.io.File(idxDir, "lists/_SUCCESS").exists())
        IvfLifecycle.build(IvfInt8, emb.filter(col("vec_id") > 3),
          "vec_id", "embedding",
          emb.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
          idxDir.getAbsolutePath)
      IvfLifecycle.searchBatch(IvfInt8, OnDisk(idxDir.getAbsolutePath),
          emb.filter(col("vec_id") <= 3), "vec_id", "embedding",
          nprobe = 2, k = 5,
          refine = Some(Similarity.Refine(overfetch = 16,
            vectors = Some((emb.filter(col("vec_id") > 3), "vec_id",
              "embedding")))))
        .select(col("q_id"), col("id").as("vec_id"),
          round(col("sim"), 6).as("sim_r"))
        .orderBy(col("q_id").asc, col("sim_r").desc, col("vec_id").asc)
    }, {
      val cos = s"${OracleSql.dotSql("q.qv", "e.embedding", 64)} / " +
        s"(sqrt(${OracleSql.dotSql("q.qv", "q.qv", 64)}) * " +
        s"sqrt(${OracleSql.dotSql("e.embedding", "e.embedding", 64)}))"
      Some(s"""WITH $int8IvfPanelDotsCtes,
        cr AS (SELECT q_id, vec_id, row_number() OVER (
            PARTITION BY q_id ORDER BY dot DESC, vec_id ASC) AS rn
          FROM d),
        cand AS (SELECT q_id, vec_id FROM cr WHERE rn <= 16),
        rr AS (SELECT c.q_id, c.vec_id, $cos AS sim
          FROM cand c
          JOIN embeddings e ON e.vec_id = c.vec_id
          JOIN qs q ON q.q_id = c.q_id),
        rk AS (SELECT q_id, vec_id, sim, row_number() OVER (
            PARTITION BY q_id ORDER BY sim DESC NULLS LAST,
              vec_id ASC) AS rn
          FROM rr)
        SELECT q_id, vec_id, round(sim, 6) AS sim_r FROM rk
        WHERE rn <= 5
        ORDER BY q_id ASC, round(sim, 6) DESC, vec_id ASC""")
    })

  // ------------------------------------------------------------ registry
  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08, q09, q10,
    q13, q14, q15, q16, q17, q18, q19, q20, q21, q22, q23, q24,
    q25, q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37,
    q38, q39, q40, q41, q42, q43, q44, q45, q46, q47, q48, q49, q50,
    q51, q52, q53, q54, q55, q56, q57, q58, q59, q60, q61, q62, q63,
    q64, q65, q66, q67, q68, q69, q70, q71, q72, q73, q74, q75, q76,
    q77, q78, q79, q80, q81, q82, q83, q84, q85, q86, q87, q88, q89,
    q90, q91, q92, q93, q94, q95, q96, q97, q98, q99, q100, q101,
    q102, q103, q104, q105, q106, q107, q108, q109, q110, q111,
    q112, q113, q114, q115, q116, q117, q118, q119, q120, q121,
    q122, q123, q124, q125, q126, q127, q128, q129, q130, q131, q132,
    q133, q134, q135, q136, q137, q138, q139, q140, q141, q142, q143,
    q144, q145, q146, q147)

  val byName: Map[String, Q] = all.map(q => q.name -> q).toMap
}
