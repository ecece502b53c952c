package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import Tables.ld

/** Relational operator coverage (SURVEY.md §2.2): scan/filter/project,
  * aggregation, joins (broadcast + shuffle, semi/anti), windows, sorts/top-k,
  * set ops, rollup, scalar functions.
  *
  * Determinism rules (oracle hash-compares values):
  *  - double aggregates go through exact DECIMAL sums, final CAST to DOUBLE
  *    (identical bits in Spark and DuckDB);
  *  - every top-k/window ordering carries a unique tie-break key;
  *  - timestamps are surfaced as unix micros (integers).
  */
object Relational {

  private val disc = "CAST(l_extendedprice*(1-l_discount) AS DECIMAL(22,6))"

  val queries: Seq[OpQuery] = Seq(

    OpQuery("q01_pricing_summary",
      (s, d) => {
        ld(s, d, "lineitem")
          .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
            sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base_price"),
            sum(expr(disc)).cast("double").as("sum_disc_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        CAST(sum($disc) AS DOUBLE) AS sum_disc_price,
        count(*) AS count_order
        FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    OpQuery("q02_top_revenue_orders",
      (s, d) => {
        val li = ld(s, d, "lineitem")
        val o = ld(s, d, "orders")
        val rev = li.groupBy("l_orderkey")
          .agg(sum(expr(disc)).cast("double").as("revenue"))
        rev.join(o.select("o_orderkey", "o_custkey"),
            rev("l_orderkey") === o("o_orderkey"))
          .select("l_orderkey", "o_custkey", "revenue")
          .orderBy(desc("revenue"), col("l_orderkey"))
          .limit(10)
      },
      Some(s"""SELECT l_orderkey, o_custkey, revenue FROM (
        SELECT l_orderkey, CAST(sum($disc) AS DOUBLE) AS revenue
        FROM lineitem GROUP BY l_orderkey) r
        JOIN orders ON l_orderkey = o_orderkey
        ORDER BY revenue DESC, l_orderkey LIMIT 10""")),

    OpQuery("q03_region_nation_revenue",
      (s, d) => {
        // 5-way join: small dims broadcast, fact shuffles once
        val li = ld(s, d, "lineitem"); val o = ld(s, d, "orders")
        val c = ld(s, d, "customer"); val n = ld(s, d, "nation"); val r = ld(s, d, "region")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(expr(disc)).cast("double").as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      },
      Some(s"""SELECT r_name, n_name, CAST(sum($disc) AS DOUBLE) AS revenue,
        count(*) AS n_items
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    OpQuery("q04_supplier_recent_ship",
      (s, d) => {
        val w = Window.partitionBy("l_suppkey")
          .orderBy(desc("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
        ld(s, d, "lineitem")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select(col("l_suppkey"), col("rn").cast("long").as("rn"), col("l_orderkey"), col("l_linenumber"),
            unix_micros(col("l_shipdate").cast("timestamp")).as("ship_us"))
          .orderBy("l_suppkey", "rn")
      },
      Some("""SELECT l_suppkey, rn, l_orderkey, l_linenumber, ship_us FROM (
        SELECT l_suppkey, l_orderkey, l_linenumber, epoch_us(l_shipdate) AS ship_us,
          row_number() OVER (PARTITION BY l_suppkey
            ORDER BY l_shipdate DESC, l_orderkey, l_linenumber) AS rn
        FROM lineitem) t WHERE rn <= 3 ORDER BY l_suppkey, rn""")),

    OpQuery("q05_partkey_setop",
      (s, d) => {
        val li = ld(s, d, "lineitem")
        val y96 = li.filter(year(col("l_shipdate")) === 1996).select("l_partkey").distinct()
        val y97 = li.filter(year(col("l_shipdate")) === 1997).select("l_partkey").distinct()
        y96.except(y97).orderBy("l_partkey")
      },
      Some("""SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1996
        EXCEPT SELECT l_partkey FROM lineitem WHERE year(l_shipdate) = 1997
        ORDER BY l_partkey""")),

    OpQuery("q06_scalar_funcs",
      (s, d) => {
        ld(s, d, "part").select(
          col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_name"), " ", "_").as("snake"),
          (col("p_size") % 7).cast("long").as("size_mod"),
          floor(col("p_retailprice")).as("price_floor"),
          concat(col("p_brand"), lit(":"), col("p_type")).as("brand_type"),
          substring(col("p_name"), 1, 3).as("prefix3"))
          .orderBy("p_partkey")
      },
      Some("""SELECT p_partkey, upper(p_name) AS uname,
        CAST(length(p_name) AS BIGINT) AS name_len,
        replace(p_name, ' ', '_') AS snake,
        CAST(p_size % 7 AS BIGINT) AS size_mod,
        CAST(floor(p_retailprice) AS BIGINT) AS price_floor,
        p_brand || ':' || p_type AS brand_type,
        substr(p_name, 1, 3) AS prefix3
        FROM part ORDER BY p_partkey""")),

    OpQuery("q07_semi_anti",
      (s, d) => {
        val c = ld(s, d, "customer"); val o = ld(s, d, "orders")
        val withO = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .agg(count(lit(1)).as("n")).select(lit("with_orders").as("kind"), col("n"))
        val withoutO = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .agg(count(lit(1)).as("n")).select(lit("without_orders").as("kind"), col("n"))
        withO.unionAll(withoutO).orderBy("kind")
      },
      Some("""SELECT 'with_orders' AS kind, count(*) AS n FROM customer
        WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'without_orders' AS kind, count(*) AS n FROM customer
        WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        ORDER BY kind""")),

    OpQuery("q08_events_by_type",
      (s, d) => {
        ld(s, d, "events").groupBy("event_type")
          .agg(
            count(lit(1)).as("n"),
            sum(col("value").cast(DecimalType(18, 6))).cast("double").as("sum_value"),
            min(unix_micros(col("ts").cast("timestamp"))).as("first_us"),
            max(unix_micros(col("ts").cast("timestamp"))).as("last_us"),
            countDistinct(col("user_id")).as("n_users"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, count(*) AS n,
        CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value,
        min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us,
        count(DISTINCT user_id) AS n_users
        FROM events GROUP BY event_type ORDER BY event_type""")),

    OpQuery("q09_user_event_seq",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
        ld(s, d, "events").filter(col("user_id") < 50)
          .select(col("user_id"), col("event_id"), unix_micros(col("ts").cast("timestamp")).as("ts_us"))
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
          .orderBy("user_id", "rn")
      },
      Some("""SELECT user_id, event_id, epoch_us(ts) AS ts_us,
        row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        lag(event_id, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_event_id
        FROM events WHERE user_id < 50 ORDER BY user_id, rn""")),

    OpQuery("q10_rollup_segment",
      (s, d) => {
        ld(s, d, "customer")
          .rollup(col("c_mktsegment"))
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast(DecimalType(18, 2))).cast("double").as("sum_bal"))
          .select(coalesce(col("c_mktsegment"), lit("__total")).as("segment"),
            col("n"), col("sum_bal"))
          .orderBy("segment")
      },
      Some("""SELECT coalesce(c_mktsegment, '__total') AS segment, count(*) AS n,
        CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        FROM customer GROUP BY ROLLUP(c_mktsegment) ORDER BY segment""")),

    OpQuery("q11_lww_latest_event",
      // the CDC dedup operator shape (LWW by version) on the events table
      (s, d) => {
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(desc("ts"), desc("event_id"))
        ld(s, d, "events")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select(col("user_id"), col("event_type"),
            col("value").as("last_value"), col("event_id").as("last_event_id"))
          .orderBy("user_id", "event_type")
      },
      Some("""SELECT user_id, event_type, value AS last_value, event_id AS last_event_id
        FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
          ORDER BY ts DESC, event_id DESC) AS rn FROM events) t
        WHERE rn = 1 ORDER BY user_id, event_type""")),

    OpQuery("q56_cube_grouping",
      // CUBE over two dims + grouping_id so every aggregation level is
      // distinguishable (NULL data vs NULL subtotal) — one pass, Catalyst
      // expands to grouping sets internally (no per-level rescan)
      (s, d) => {
        ld(s, d, "orders")
          .cube(col("o_orderstatus"), col("o_orderpriority"))
          .agg(grouping_id().as("gid"),
            count(lit(1)).as("n"),
            sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"))
          .select(col("gid"), col("o_orderstatus"), col("o_orderpriority"),
            col("n"), col("sum_price"))
          .orderBy("gid", "o_orderstatus", "o_orderpriority")
      },
      Some("""SELECT GROUPING(o_orderstatus, o_orderpriority) AS gid,
          o_orderstatus, o_orderpriority, count(*) AS n,
          CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        ORDER BY gid, o_orderstatus, o_orderpriority""")),

    OpQuery("q57_pivot_events",
      // PIVOT: per-user event-type counts as columns. The value set is
      // explicit (no pre-pass to discover it — at scale that's a full
      // extra scan); the oracle is the equivalent conditional aggregate.
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val p = ld(s, d, "events")
          .groupBy("user_id")
          .pivot("event_type", types)
          .agg(count(lit(1)))
        p.select(col("user_id") +:
            types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
          .orderBy("user_id")
      },
      Some("""SELECT user_id,
          count(*) FILTER (WHERE event_type = 'click') AS click,
          count(*) FILTER (WHERE event_type = 'error') AS error,
          count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
          count(*) FILTER (WHERE event_type = 'signup') AS signup,
          count(*) FILTER (WHERE event_type = 'view') AS view
        FROM events GROUP BY user_id ORDER BY user_id""")),

    OpQuery("q58_percentile_disc",
      // EXACT discrete percentiles per group, computed by rank selection
      // (smallest value at sorted position >= ceil(p*n)) — identical
      // arithmetic in both engines, doubles pass through untouched (the
      // interpolated percentile_cont is engine-formula-dependent; disc is
      // not). One window pass + one aggregate.
      (s, d) => {
        val w = Window.partitionBy("event_type").orderBy(col("value"), col("event_id"))
        val cw = Window.partitionBy("event_type")
        ld(s, d, "events")
          .withColumn("rn", row_number().over(w).cast("long"))
          .withColumn("n", count(lit(1)).over(cw))
          .groupBy("event_type")
          .agg(
            max(col("n")).as("n"),
            min(col("value")).as("vmin"),
            min(when(col("rn") >= ceil(lit(0.5) * col("n")), col("value"))).as("p50"),
            min(when(col("rn") >= ceil(lit(0.9) * col("n")), col("value"))).as("p90"),
            max(col("value")).as("vmax"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, max(n) AS n, min(value) AS vmin,
          min(CASE WHEN rn >= ceil(0.5 * n) THEN value END) AS p50,
          min(CASE WHEN rn >= ceil(0.9 * n) THEN value END) AS p90,
          max(value) AS vmax
        FROM (SELECT event_type, value,
            row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
            count(*) OVER (PARTITION BY event_type) AS n
          FROM events) t
        GROUP BY event_type ORDER BY event_type""")),

    OpQuery("q99_topk_aggregator",
      // Custom TYPED Aggregator (the UDAF surface — the one extension API
      // q06's scalar functions and ProtoDecodeExpression don't cover):
      // per-group bounded top-k where the AGGREGATION BUFFER is the k-row
      // heap. The scale property is partial aggregation: each map task
      // reduces its partition to ≤k rows per group before the shuffle
      // (ObjectHashAggregate partial → merge), so the exchange carries
      // O(groups × k) rows, not the table — the aggregate-shaped top-k,
      // vs q02's windowed top-k that shuffles every row of the group.
      // Total order (value DESC, event_id ASC) makes reduce/merge
      // associative + deterministic, so the oracle is a plain window.
      (s, d) => {
        val top3 = udaf(new TopKByValue(3),
          org.apache.spark.sql.Encoders.product[TopKByValue.In])
        ld(s, d, "events").filter(col("value").isNotNull)
          .groupBy("event_type")
          .agg(top3(col("value"), col("event_id")).as("buf"))
          .select(col("event_type"), posexplode(col("buf.items")))
          .select(col("event_type"), (col("pos") + 1).cast("long").as("rank"),
            col("col.eventId").as("event_id"), col("col.value").as("value"))
          .orderBy("event_type", "rank")
      },
      Some("""SELECT event_type, rank, event_id, value FROM (
          SELECT event_type, event_id, value,
            row_number() OVER (PARTITION BY event_type
              ORDER BY value DESC, event_id) AS rank
          FROM events WHERE value IS NOT NULL) t
        WHERE rank <= 3 ORDER BY event_type, rank""")),

    OpQuery("q59_json_props",
      // JSON extraction in the hot path: pull a typed field out of the
      // events' JSON props column (codegen'd JsonPath — no UDF) and
      // aggregate on it. The semi-structured sidecar-column pattern every
      // event pipeline hits.
      (s, d) => {
        ld(s, d, "events")
          .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
          .groupBy(col("event_type"), (col("k") % 10).as("kb"))
          .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
            min(col("k")).as("min_k"), max(col("k")).as("max_k"))
          .orderBy("event_type", "kb")
      },
      Some("""SELECT event_type,
          CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS kb,
          count(*) AS n,
          CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        FROM events GROUP BY 1, 2 ORDER BY event_type, kb"""))
  )
}

object TopKByValue {
  /** Aggregator input: one event's (value, eventId). */
  final case class In(value: Double, eventId: Long)
  /** Buffer/output: the bounded top-k, kept sorted by the total order. */
  final case class Buf(items: Seq[In])
}

/** Typed Aggregator keeping the per-group top-`k` rows by
  * (value DESC, eventId ASC) — a bounded buffer that Spark partial-aggregates
  * map-side, so a group's shuffle contribution is ≤k rows per task no matter
  * how many input rows the group has (q99). reduce is O(k) via ordered
  * insertion; merge is a k-bounded sorted merge — both associative and
  * commutative under the unique total order, which is what makes the result
  * deterministic and the DuckDB window oracle exact. */
final class TopKByValue(k: Int)
    extends org.apache.spark.sql.expressions.Aggregator[
      TopKByValue.In, TopKByValue.Buf, TopKByValue.Buf] {
  import TopKByValue._
  // TOTAL order, NaN ranked greatest (first under DESC) — Java's `>` is
  // false on every NaN comparison, which would silently DROP NaN rows from
  // a full buffer and make insertion order-dependent, while both Spark's
  // window ORDER BY and the DuckDB oracle rank NaN above all values.
  // -0.0 normalizes to 0.0 so zero ties still break by eventId (Double
  // .compare alone would order 0.0 above -0.0, unlike SQL equality).
  private def lt(a: In, b: In): Boolean = {
    def norm(v: Double) = if (v == 0.0) 0.0 else v
    val c = java.lang.Double.compare(norm(a.value), norm(b.value))
    c > 0 || (c == 0 && a.eventId < b.eventId)
  }
  def zero: Buf = Buf(Vector.empty)
  def reduce(b: Buf, a: In): Buf =
    if (b.items.size == k && !lt(a, b.items.last)) b
    else {
      val (before, after) = b.items.span(lt(_, a))
      Buf(((before :+ a) ++ after).take(k))
    }
  def merge(b1: Buf, b2: Buf): Buf = b2.items.foldLeft(b1)(reduce)
  def finish(b: Buf): Buf = b
  def bufferEncoder: org.apache.spark.sql.Encoder[Buf] =
    org.apache.spark.sql.Encoders.product[Buf]
  def outputEncoder: org.apache.spark.sql.Encoder[Buf] =
    org.apache.spark.sql.Encoders.product[Buf]
}
