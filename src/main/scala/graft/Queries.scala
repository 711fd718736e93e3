package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** One entry per query in the engine's declared inventory.
  *
  * @param name   stable id (sorted output drives CORRECTNESS_r{N}.json)
  * @param oracle equivalent SQL runnable by DuckDB over the same parquet
  *               tables; None → driver records a weaker rows-only check
  * @param build  the Spark-side implementation
  */
case class QueryDef(
    name: String,
    oracle: Option[String],
    build: (SparkSession, String) => DataFrame)

/** The relational query inventory over the testdata tables, and the
  * whole inventory (`all`): this file holds the relational operators
  * (aggregations, joins, set ops, windows, as-of and range joins) and
  * the reference's geometry steps (force2D, Multi promotion,
  * asGeoJSON); the other families live in PipelineQueries,
  * AnalysisQueries, CurationQueries, CrawlQueries, DomainQueries,
  * WarehouseQueries and GraphQueries.
  *
  * Each query re-expresses an operator family from SURVEY.md §2
  * (reference: nafaarts/wilayah-aceh-etl) in idiomatic Spark, at
  * TPC-H-ish scale the Aceh corpus can't provide.
  *
  * Numeric stability for the DuckDB-oracle hash compare: floating sums
  * are order-dependent, so every aggregate over doubles goes through
  * DECIMAL(25,6) (exact, order-independent) and is cast back to double.
  * A double is never exactly on a 6-decimal midpoint (5e-7 is not
  * dyadic), so Spark's HALF_UP and any nearest-rounding agree.
  */
object Queries {
  import Tables._
  import OracleSql.{dsum, dsumSql}

  val all: Seq[QueryDef] = core ++ extra ++ advanced ++
    Seq(q263, q306, q307, q308) ++ PipelineQueries.all ++
    AnalysisQueries.all ++ CurationQueries.all ++ CrawlQueries.all ++
    DomainQueries.all ++ WarehouseQueries.all ++ GraphQueries.all

  private lazy val core: Seq[QueryDef] = Seq(

    // ===== Aggregations (SURVEY §2.4 A1-A5) =====

    // TPC-H Q1 shape: grouped multi-aggregate scan with pushed filter.
    QueryDef("q01_pricing_summary",
      Some(s"""
        SELECT l_returnflag, l_linestatus,
               ${dsumSql("l_quantity")} AS sum_qty,
               ${dsumSql("l_extendedprice")} AS sum_base_price,
               ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
               CAST(COUNT(*) AS BIGINT) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus"""),
      // to_timestamp interprets the literal in spark.sql.session.timeZone —
      // the same zone used to read the naive parquet timestamps — so the
      // boundary is TZ-independent (java.sql.Timestamp.valueOf would parse
      // in the driver JVM's default zone instead).
      (s, d) => lineitem(s, d)
        .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // A1 grouped count (reference: server.js:256-259 per-level counts).
    QueryDef("q02_grouped_count",
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, d) => events(s, d).groupBy("event_type")
        .agg(count(lit(1)).as("n")).orderBy("event_type")),

    // A2 count-without-rows + TPC-H Q6 shape (filter → global agg).
    QueryDef("q03_filtered_count",
      Some(s"""
        SELECT CAST(COUNT(*) AS BIGINT) AS cnt,
               ${dsumSql("l_extendedprice * l_discount")} AS revenue
        FROM lineitem
        WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24"""),
      (s, d) => lineitem(s, d)
        .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(count(lit(1)).as("cnt"),
             dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))),

    // A3 pivot: fan grouped counts into one struct row
    // (reference: server.js:261-266 level→{provinsi,kabupaten,...}).
    QueryDef("q04_status_pivot",
      Some("""
        SELECT CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_open,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_finished,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_pending
        FROM orders"""),
      (s, d) => orders(s, d).agg(
        sum(when(col("o_orderstatus") === "O", 1).otherwise(0)).as("cnt_open"),
        sum(when(col("o_orderstatus") === "F", 1).otherwise(0)).as("cnt_finished"),
        sum(when(col("o_orderstatus") === "P", 1).otherwise(0)).as("cnt_pending"))),

    // A4 existence aggregate (reference: server.js:268 stats.available).
    QueryDef("q05_existence",
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) > 0 AS available,
               CAST(COUNT(*) AS BIGINT) AS total
        FROM documents WHERE lang = 'en'"""),
      (s, d) => documents(s, d).filter(col("lang") === "en")
        .agg((count(lit(1)) > 0).as("available"), count(lit(1)).as("total"))),

    // ===== Filters / projections / scalar functions (§2.2, §2.8) =====

    // P1 projection+rename, F1 lower (reference: server.js:324).
    QueryDef("q06_proj_rename",
      Some("""
        SELECT c_custkey AS id, LOWER(c_name) AS name, c_mktsegment AS segment
        FROM customer WHERE c_acctbal > 5000 ORDER BY id"""),
      (s, d) => customer(s, d).filter(col("c_acctbal") > 5000)
        .select(col("c_custkey").as("id"), lower(col("c_name")).as("name"),
                col("c_mktsegment").as("segment"))
        .orderBy("id")),

    // P2 prefix predicate LIKE 'x%' (reference: server.js:257 code LIKE).
    QueryDef("q07_prefix_filter",
      Some("""
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM documents WHERE source LIKE 'src1%'
        GROUP BY source ORDER BY source"""),
      (s, d) => documents(s, d).filter(col("source").startsWith("src1"))
        .groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")),

    // P4 case-insensitive substring search + O1 multi-sort + O2 top-k
    // (reference: server.js:323-329 search_wilayah, LIMIT 10).
    QueryDef("q08_topk_search",
      Some("""
        SELECT doc_id, lang, n_chars
        FROM documents WHERE LOWER(text) LIKE '%vector%'
        ORDER BY n_chars DESC, doc_id LIMIT 10"""),
      (s, d) => documents(s, d)
        .filter(lower(col("text")).contains("vector"))
        .select("doc_id", "lang", "n_chars")
        .orderBy(col("n_chars").desc, col("doc_id"))
        .limit(10)),

    // P6 null-tolerant optional prefix (reference: init_db.sql:79-82).
    QueryDef("q09_null_tolerant_prefix",
      Some("""
        SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n
        FROM part
        WHERE (NULL IS NULL) OR (p_brand LIKE 'Brand#1%')
        GROUP BY p_brand ORDER BY p_brand"""),
      (s, d) => {
        val parent: Option[String] = None
        part(s, d)
          .filter(lit(parent.orNull).isNull || col("p_brand").startsWith(parent.getOrElse("")))
          .groupBy("p_brand").agg(count(lit(1)).as("n")).orderBy("p_brand")
      }),

    // P8 derived-code synthesis (reference: server.js:160-185): dotted
    // hierarchical codes via concat_ws / substring / literal-prefix rules.
    QueryDef("q10_code_synthesis",
      Some("""
        SELECT CAST(n_regionkey AS VARCHAR) || '.' ||
                 CASE WHEN LENGTH(CAST(n_nationkey AS VARCHAR)) >= 2
                      THEN SUBSTR(CAST(n_nationkey AS VARCHAR), LENGTH(CAST(n_nationkey AS VARCHAR)) - 1, 2)
                      ELSE CAST(n_nationkey AS VARCHAR) END AS kode,
               '2' || CAST(n_nationkey AS VARCHAR) AS kode_kelurahan,
               LOWER(n_name) AS nama
        FROM nation ORDER BY kode_kelurahan"""),
      (s, d) => nation(s, d).select(
          concat_ws(".", col("n_regionkey").cast(StringType),
            substring(col("n_nationkey").cast(StringType), -2, 2)).as("kode"),
          concat(lit("2"), col("n_nationkey").cast(StringType)).as("kode_kelurahan"),
          lower(col("n_name")).as("nama"))
        .orderBy("kode_kelurahan")),

    // ===== Joins (§2.3) =====

    // Star join through two broadcastable dims (TPC-H Q5 shape):
    // revenue per region. Dims are tiny → broadcast hash join, no shuffle
    // of the fact side beyond the final group-by.
    QueryDef("q11_star_join",
      Some(s"""
        SELECT r.r_name AS region_name, ${dsumSql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
               CAST(COUNT(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name"""),
      // no spread() here: the first join's key exchange redistributes
      // the single-file scan anyway, so a round-robin pre-shuffle is
      // pure overhead (measured: 1.1s -> 0.85s at sf0.1). spread() is
      // for CPU-heavy SCAN-SIDE projections, which q11's scan is not.
      (s, d) => lineitem(s, d)
        .join(orders(s, d), col("l_orderkey") === col("o_orderkey"))
        // customer scales with SF (150k x SF rows) — at the 100 TB design
        // target it is NOT broadcastable; let AQE pick the strategy. Only
        // nation/region are genuinely tiny fixed-size dims.
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"))
        .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
             count(lit(1)).as("n_items"))
        .orderBy("region_name")),

    // Left-semi join (EXISTS).
    QueryDef("q12_semi_join",
      Some("""
        SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment"""),
      (s, d) => customer(s, d)
        .join(orders(s, d).select("o_custkey"),
              col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("n_customers"))
        .orderBy("c_mktsegment")),

    // Left-anti join (NOT EXISTS).
    QueryDef("q13_anti_join",
      Some("""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_customers_without_orders
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)"""),
      (s, d) => customer(s, d)
        .join(orders(s, d).select("o_custkey"),
              col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("n_customers_without_orders"))),

    // Hierarchy self-join via derived parent code — the scale-safe
    // rewrite of the reference's prefix-match traversal
    // (SURVEY §2.3: equi-join on substring_index, not a theta join).
    QueryDef("q14_hierarchy_join",
      Some("""
        WITH coded AS (
          SELECT CAST(n_regionkey AS VARCHAR) || '.' || CAST(n_nationkey AS VARCHAR) AS kode,
                 n_name, n_regionkey FROM nation)
        SELECT c.kode, c.n_name AS child_name, r.r_name AS parent_name
        FROM coded c
        JOIN region r ON CAST(r.r_regionkey AS VARCHAR) = SPLIT_PART(c.kode, '.', 1)
        ORDER BY c.kode"""),
      (s, d) => {
        val coded = nation(s, d).select(
          concat_ws(".", col("n_regionkey").cast(StringType),
                    col("n_nationkey").cast(StringType)).as("kode"),
          col("n_name"))
        coded.join(broadcast(region(s, d)),
            col("r_regionkey").cast(StringType) === substring_index(col("kode"), ".", 1))
          .select(col("kode"), col("n_name").as("child_name"),
                  col("r_name").as("parent_name"))
          .orderBy("kode")
      }),

    // ===== Set operations (§2.7) =====

    QueryDef("q15_union",
      Some("""
        SELECT CAST(k AS INTEGER) AS nationkey FROM (
          SELECT DISTINCT c_nationkey AS k FROM customer
          UNION
          SELECT DISTINCT s_nationkey AS k FROM supplier) ORDER BY nationkey"""),
      (s, d) => customer(s, d).select(col("c_nationkey").as("nationkey"))
        .union(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .distinct().orderBy("nationkey")),

    QueryDef("q16_intersect",
      Some("""
        SELECT c_nationkey AS nationkey FROM customer
        INTERSECT SELECT s_nationkey FROM supplier ORDER BY nationkey"""),
      (s, d) => customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersect(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    QueryDef("q17_except",
      Some("""
        SELECT n_nationkey AS nationkey FROM nation
        EXCEPT SELECT s_nationkey FROM supplier ORDER BY nationkey"""),
      (s, d) => nation(s, d).select(col("n_nationkey").as("nationkey"))
        .except(supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")),

    // Multiplicity-preserving set ops (INTERSECT ALL / EXCEPT ALL) —
    // distinct physical operators from the DISTINCT variants (q16/q17):
    // Catalyst plans them as count-compare aggregates, not semi/anti
    // joins. The two branches partition customer's nationkey multiset.
    QueryDef("q59_set_ops_all",
      Some("""
        SELECT 'intersect_all' AS op, k FROM (
          SELECT c_nationkey AS k FROM customer
          INTERSECT ALL SELECT s_nationkey FROM supplier)
        UNION ALL
        SELECT 'except_all', k FROM (
          SELECT c_nationkey AS k FROM customer
          EXCEPT ALL SELECT s_nationkey FROM supplier)
        ORDER BY op, k"""),
      (s, d) => {
        val c = customer(s, d).select(col("c_nationkey").as("k"))
        val su = supplier(s, d).select(col("s_nationkey").as("k"))
        c.intersectAll(su).select(lit("intersect_all").as("op"), col("k"))
          .union(c.exceptAll(su).select(lit("except_all").as("op"), col("k")))
          .orderBy("op", "k")
      }),

    // String-function surface II: edit distance, padding, reversal,
    // repetition, character translation, word extraction — all
    // deterministic integer/byte-level functions.
    QueryDef("q60_string_funcs2",
      Some("""
        SELECT p_partkey,
               CAST(levenshtein(p_name, p_brand) AS INTEGER) AS lev,
               lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded,
               reverse(p_name) AS rev,
               repeat(p_type, 2) AS rep,
               translate(p_name, 'aeiou', '_____') AS consonants,
               split_part(p_type, ' ', 1) AS first_word
        FROM part ORDER BY p_partkey"""),
      (s, d) => part(s, d).select(
          col("p_partkey"),
          levenshtein(col("p_name"), col("p_brand")).as("lev"),
          lpad(col("p_partkey").cast(StringType), 8, "0").as("padded"),
          reverse(col("p_name")).as("rev"),
          expr("repeat(p_type, 2)").as("rep"),
          translate(col("p_name"), "aeiou", "_____").as("consonants"),
          expr("split_part(p_type, ' ', 1)").as("first_word"))
        .orderBy("p_partkey")),

    // ===== Windows (§2.5; S7 last-writer-wins dedup recipe) =====

    // The merge/upsert recipe (reference: init_db.sql:21-36 upsert):
    // last row per key by timestamp wins.
    QueryDef("q18_last_writer_wins",
      Some("""
        SELECT user_id, event_id, event_type, value FROM (
          SELECT user_id, event_id, event_type, value,
                 ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1 ORDER BY user_id"""),
      (s, d) => {
        // order by MICROS-truncated time + event_id, like the oracle:
        // DuckDB reads the NANOS parquet truncated to micros, so a raw
        // ts_ns order would break ties the oracle's event_id tiebreak
        // resolves differently whenever two events share a microsecond
        val w = Window.partitionBy("user_id")
          .orderBy(expr("ts_ns div 1000").desc, col("event_id").desc)
        events(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("user_id", "event_id", "event_type", "value")
          .orderBy("user_id")
      }),

    // Running total per key (decimal-exact accumulation).
    QueryDef("q19_running_total",
      Some("""
        SELECT user_id, event_id,
               CAST(SUM(CAST(value AS DECIMAL(25,6)))
                    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS DOUBLE) AS running
        FROM events ORDER BY user_id, event_id"""),
      (s, d) => {
        // micros-truncated order (see q18): keeps the event_id tiebreak
        // meaningful on both engines
        val w = Window.partitionBy("user_id")
          .orderBy(expr("ts_ns div 1000"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        events(s, d)
          .withColumn("running",
            sum(col("value").cast(DecimalType(25, 6))).over(w).cast(DoubleType))
          .select("user_id", "event_id", "running")
          .orderBy("user_id", "event_id")
      }),

    // ===== Date/time + temporal aggregation (events stream table) =====

    QueryDef("q20_monthly_rollup",
      Some(s"""
        SELECT STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m') AS month,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ${dsumSql("o_totalprice")} AS total
        FROM orders GROUP BY 1 ORDER BY month"""),
      (s, d) => orders(s, d)
        .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy("month")),

    // ===== Scalar function showcase (§2.8 F1-F10) =====

    QueryDef("q21_scalar_funcs",
      Some("""
        SELECT p_partkey,
               LOWER(p_name) AS lname,
               UPPER(p_brand) AS ubrand,
               SUBSTR(p_name, 1, 5) AS prefix5,
               LENGTH(p_name) AS name_len,
               CAST(p_partkey AS VARCHAR) || ':' || p_type AS tagged,
               CASE WHEN p_size >= 25 THEN 'big' WHEN p_size >= 10 THEN 'mid' ELSE 'small' END AS size_class,
               CAST(CAST(p_retailprice AS DECIMAL(18,2)) AS DOUBLE) AS price_rounded
        FROM part ORDER BY p_partkey"""),
      (s, d) => part(s, d).select(
          col("p_partkey"),
          lower(col("p_name")).as("lname"),
          upper(col("p_brand")).as("ubrand"),
          substring(col("p_name"), 1, 5).as("prefix5"),
          // bigint, not the native int32: DuckDB LENGTH is int64 and the
          // gate compares representation, not just value
          length(col("p_name")).cast(LongType).as("name_len"),
          concat(col("p_partkey").cast(StringType), lit(":"), col("p_type")).as("tagged"),
          when(col("p_size") >= 25, "big").when(col("p_size") >= 10, "mid")
            .otherwise("small").as("size_class"),
          col("p_retailprice").cast(DecimalType(18, 2)).cast(DoubleType).as("price_rounded"))
        .orderBy("p_partkey")),

    // Regex classification (reference: server.js:366 filename rules F6).
    QueryDef("q22_regex_classify",
      Some("""
        SELECT CASE WHEN REGEXP_MATCHES(p_name, '^[a-z]+ widget$') THEN 'widget'
                    WHEN p_name LIKE '%bolt%' THEN 'bolt'
                    ELSE 'other' END AS kind,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM part GROUP BY 1 ORDER BY kind"""),
      (s, d) => part(s, d)
        .select(when(col("p_name").rlike("^[a-z]+ widget$"), "widget")
          .when(col("p_name").contains("bolt"), "bolt")
          .otherwise("other").as("kind"))
        .groupBy("kind").agg(count(lit(1)).as("n")).orderBy("kind")),

    // ===== Distinct aggregation =====

    QueryDef("q23_distinct_agg",
      Some("""
        SELECT o_orderpriority,
               CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
               CAST(COUNT(*) AS BIGINT) AS n_orders
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
      (s, d) => orders(s, d).groupBy("o_orderpriority")
        .agg(countDistinct(col("o_custkey")).as("n_customers"),
             count(lit(1)).as("n_orders"))
        .orderBy("o_orderpriority"))
  )

  /** Relational surface extensions: outer join, rollup, ranking/offset
    * windows, ordered group-collect, date/time functions.
    */
  private lazy val extra: Seq[QueryDef] = Seq(

    // Left outer join preserving unmatched rows (zero-order customers).
    QueryDef("q36_outer_join",
      Some("""
        SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS n_orders,
               CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(25,6))), 0) AS DOUBLE) AS total_spent
        FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        GROUP BY c.c_custkey ORDER BY c_custkey"""),
      (s, d) => customer(s, d)
        .join(orders(s, d), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
             coalesce(sum(col("o_totalprice").cast(DecimalType(25, 6))), lit(0))
               .cast(DoubleType).as("total_spent"))
        .orderBy("c_custkey")),

    // ROLLUP hierarchy totals (subtotal + grand-total grouping sets).
    QueryDef("q37_rollup",
      Some("""
        SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)"""),
      (s, d) => orders(s, d)
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n"))),

    // Ranking + offset window functions over a deterministic order.
    QueryDef("q38_window_rank",
      Some("""
        SELECT o_custkey, o_orderkey,
               CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
               CAST(RANK() OVER w AS BIGINT) AS rnk,
               CAST(LAG(o_orderkey) OVER w AS BIGINT) AS prev_key
        FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)"""),
      (s, d) => {
        val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        orders(s, d).select(
          col("o_custkey"), col("o_orderkey"),
          row_number().over(w).cast(LongType).as("rn"),
          rank().over(w).cast(LongType).as("rnk"),
          lag(col("o_orderkey"), 1).over(w).cast(LongType).as("prev_key"))
      }),

    // Grouped collect with deterministic (sorted) ordering, serialized
    // to a string so the compare is list-order-exact.
    QueryDef("q39_group_collect",
      Some("""
        SELECT n_regionkey, array_to_string(list_sort(list(n_name)), ',') AS names
        FROM nation GROUP BY n_regionkey ORDER BY n_regionkey"""),
      (s, d) => nation(s, d)
        .groupBy("n_regionkey")
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy("n_regionkey")),

    // Date/time function surface: parts, epoch-day arithmetic, month
    // boundary (strings at the edges — TZ/date-repr neutral).
    QueryDef("q40_date_funcs",
      Some("""
        SELECT o_orderkey,
               CAST(year(o_orderdate) AS INTEGER) AS y,
               CAST(month(o_orderdate) AS INTEGER) AS m,
               CAST(quarter(o_orderdate) AS INTEGER) AS q,
               CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_95,
               STRFTIME(CAST(date_trunc('month', o_orderdate) + INTERVAL 1 MONTH AS DATE), '%Y-%m-%d') AS next_month
        FROM orders ORDER BY o_orderkey"""),
      (s, d) => orders(s, d).select(
          col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"),
          quarter(col("o_orderdate")).as("q"),
          datediff(col("o_orderdate").cast(DateType), to_date(lit("1995-01-01")))
            .as("days_since_95"),
          date_format(add_months(trunc(col("o_orderdate").cast(DateType), "month"), 1),
            "yyyy-MM-dd").as("next_month"))
        .orderBy("o_orderkey"))
  )

  /** The click/purchase funnel base the as-of and range joins (q41,
    * q42, q263) start from: purchases `p` and clicks `c` as oracle
    * CTEs, and for the engine's as-of rewrite one user-keyed stream —
    * clicks carry their own timestamp as `click_ts`, purchases their
    * `event_id`, and `is_p` tags purchases.
    */
  private lazy val funnelBaseSql = """
        WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        c AS (SELECT user_id, ts FROM events WHERE event_type = 'click')"""
  private def clickPurchaseStream(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("ts").as("click_ts"),
              lit(0).as("is_p"), lit(null).cast(LongType).as("event_id"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts"),
              lit(null).cast(TimestampType).as("click_ts"),
              lit(1).as("is_p"), col("event_id"))
    clicks.unionByName(purchases)
  }

  /** Advanced join + approximate-aggregate surface. */
  private lazy val advanced: Seq[QueryDef] = Seq(

    // As-of join (trades/quotes shape): for each purchase, the same
    // user's latest click at-or-before it. DuckDB runs its native ASOF
    // JOIN; the Spark side uses the scale-safe union+window rewrite —
    // tag both streams, one shuffle on the key, last_value(ignoreNulls)
    // over the time order. No range explosion, no per-row probe: the
    // plan is a single sort-merge pass however large either side is.
    // The carried value is the click's own timestamp, so equal-ts ties
    // produce identical output regardless of tiebreak.
    QueryDef("q41_asof_join",
      Some(funnelBaseSql + """
        SELECT p.event_id, p.user_id, c.ts AS last_click_ts
        FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts <= p.ts
        ORDER BY p.event_id"""),
      (s, d) => {
        // clicks sort before purchases at equal ts, so `<=` is honored
        val w = Window.partitionBy("user_id").orderBy(col("ts"), col("is_p"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clickPurchaseStream(s, d)
          .withColumn("last_click_ts", last("click_ts", ignoreNulls = true).over(w))
          // inner as-of: purchases with no prior click drop out (also
          // keeps nullable timestamps out of the compared output)
          .filter(col("is_p") === 1 && col("last_click_ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("last_click_ts"))
          .orderBy("event_id")
      }),

    // Range join: same-user clicks in the 5 minutes before each
    // purchase. The equi key (user_id) carries the join — the range
    // is a residual predicate on the sort-merge join, never a
    // cartesian/nested-loop.
    QueryDef("q42_range_join",
      Some(funnelBaseSql + """
        SELECT p.event_id, CAST(COUNT(c.ts) AS BIGINT) AS n_recent_clicks
        FROM p LEFT JOIN c ON p.user_id = c.user_id
          AND c.ts >= p.ts - INTERVAL 5 MINUTE AND c.ts < p.ts
        GROUP BY p.event_id ORDER BY p.event_id"""),
      (s, d) => {
        val ev = events(s, d)
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id"), col("user_id"), col("ts"))
          .join(clicks,
            col("user_id") === col("c_user") &&
              col("c_ts") >= col("ts") - expr("INTERVAL 5 MINUTES") &&
              col("c_ts") < col("ts"),
            "left")
          .groupBy("event_id").agg(count(col("c_ts")).as("n_recent_clicks"))
          .orderBy("event_id")
      }),

    // Approximate distinct (HLL). Sketch internals differ across
    // engines, so the contract is accuracy, not equality: emit the
    // exact count plus a within-10% flag — at this cardinality both
    // engines' sparse HLL paths are near-exact, so the flag is a
    // stable true on both sides.
    QueryDef("q43_approx_distinct",
      Some("""
        SELECT event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
               ABS(CAST(approx_count_distinct(user_id) AS BIGINT)
                   - COUNT(DISTINCT user_id)) <= 0.1 * COUNT(DISTINCT user_id) AS approx_ok
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, d) => events(s, d).groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("exact_users"),
             (abs(approx_count_distinct(col("user_id")) - countDistinct(col("user_id")))
               <= lit(0.1) * countDistinct(col("user_id"))).as("approx_ok"))
        .orderBy("event_type")),

    // Null semantics: NULLIF/COALESCE and null-safe comparison
    // (IS DISTINCT FROM = negated <=>). The corpus has no nulls, so
    // NULLIF manufactures them and the query proves they flow through
    // aggregation boundaries identically in both engines.
    QueryDef("q46_null_semantics",
      Some("""
        SELECT event_type,
               CAST(COUNT(NULLIF(event_type, 'click')) AS BIGINT) AS n_non_click_counted,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN event_type IS DISTINCT FROM 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct_from,
               COALESCE(NULLIF(MIN(event_type), 'click'), 'all_clicks') AS min_or_marker
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, d) => events(s, d).groupBy("event_type")
        .agg(count(nullif(col("event_type"), lit("click"))).as("n_non_click_counted"),
             count(lit(1)).as("n_total"),
             sum(when(!(col("event_type") <=> lit("click")), 1).otherwise(0))
               .as("n_distinct_from"),
             coalesce(nullif(min(col("event_type")), lit("click")), lit("all_clicks"))
               .as("min_or_marker"))
        .orderBy("event_type")),

    // Array functions over grouped collections: sorted per-order
    // quantity vectors with positional access. Outputs stay scalar
    // (array cells and stringified doubles don't compare portably);
    // out-of-bounds access yields NULL identically in both engines.
    QueryDef("q47_array_ops",
      Some("""
        WITH a AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
                   FROM lineitem GROUP BY l_orderkey)
        SELECT l_orderkey,
               CAST(len(qs) AS INTEGER) AS n_items,
               qs[1] AS min_q,
               qs[-1] AS max_q,
               qs[2] AS second_q,
               CAST(list_contains(qs, 1.0) AS BOOLEAN) AS has_unit
        FROM a ORDER BY l_orderkey"""),
      (s, d) => lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
        .select(
          col("l_orderkey"),
          size(col("qs")).as("n_items"),
          element_at(col("qs"), 1).as("min_q"),
          element_at(col("qs"), -1).as("max_q"),
          // ANSI mode (Spark 4 default) throws on out-of-bounds
          // element_at; try_element_at returns NULL like DuckDB's qs[2]
          try_element_at(col("qs"), lit(2)).as("second_q"),
          array_contains(col("qs"), 1.0).as("has_unit"))
        .orderBy("l_orderkey")),

    // Grouped top-k through the CUSTOM OPERATOR (plans.GroupedTopK):
    // partial per-partition k-heaps -> key shuffle of survivors ->
    // final merge, vs the oracle's window+filter. Tie-free on this
    // data (verified: no duplicate (orderkey, price) at any SF), so
    // the unspecified tie-break cannot diverge.
    QueryDef("q48_grouped_topk",
      Some("""
        SELECT l_orderkey, l_extendedprice FROM (
          SELECT l_orderkey, l_extendedprice,
                 ROW_NUMBER() OVER (PARTITION BY l_orderkey
                                    ORDER BY l_extendedprice DESC) AS rn
          FROM lineitem) WHERE rn <= 2
        ORDER BY l_orderkey, l_extendedprice"""),
      (s, d) => graft.plans.GroupedTopK.perKey(
          lineitem(s, d).select("l_orderkey", "l_extendedprice"),
          Seq("l_orderkey"), "l_extendedprice", k = 2)
        .orderBy("l_orderkey", "l_extendedprice")),

    // Correlated scalar subqueries (TPC-H Q17 shape), exercising
    // Catalyst decorrelation (subquery -> aggregate + join rewrite).
    // The 20%-of-average predicate is algebraically cleared of the
    // division (5*q*cnt < sum, exact DECIMAL terms), so the boundary
    // is deterministic across engines — a double AVG would be
    // summation-order-dependent.
    QueryDef("q49_correlated_subquery",
      Some(s"""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_small,
               ${dsumSql("l_extendedprice")} AS total_price
        FROM lineitem l
        WHERE 5 * CAST(l.l_quantity AS DECIMAL(25,6)) *
                (SELECT COUNT(*) FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
              < (SELECT SUM(CAST(l2.l_quantity AS DECIMAL(25,6)))
                 FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)"""),
      (s, d) => {
        // single-aggregate form of the correlated pair: Catalyst
        // decorrelates the oracle's two scalar subqueries into two
        // independent aggregate+join branches over lineitem (round-3
        // bench top-5 cost); one groupBy(l_partkey).agg(count, sum)
        // feeding both predicates is algebraically identical (both
        // subqueries share the correlation key, every probe row's part
        // group is non-empty by construction, so inner-join semantics
        // match the correlated lookups) and scans/shuffles lineitem
        // once instead of twice.
        val li = lineitem(s, d)
        val perPart = li.groupBy("l_partkey").agg(
          count(lit(1)).as("_cnt"),
          sum(col("l_quantity").cast(DecimalType(25, 6))).as("_sum"))
        li.join(perPart, "l_partkey")
          .filter(lit(5) * col("l_quantity").cast(DecimalType(25, 6)) * col("_cnt")
            < col("_sum"))
          .agg(count(lit(1)).as("n_small"),
               dsum(col("l_extendedprice")).as("total_price"))
      }),

    // Approximate quantiles (t-digest/KLL-family sketches). Sketch
    // internals differ across engines, so — like q43's HLL — the
    // contract is accuracy, not equality: exact count plus within-5%
    // flags, stably true on both engines at this accuracy.
    QueryDef("q53_approx_quantile",
      Some("""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               ABS(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
                 <= 0.05 * ABS(quantile_cont(value, 0.5)) AS median_ok,
               ABS(approx_quantile(value, 0.9) - quantile_cont(value, 0.9))
                 <= 0.05 * ABS(quantile_cont(value, 0.9)) AS p90_ok
        FROM events GROUP BY event_type ORDER BY event_type"""),
      (s, d) => {
        def ok(p: Double) =
          (abs(percentile_approx(col("value"), lit(p), lit(10000)) -
               expr(s"percentile(value, $p)"))
            <= lit(0.05) * abs(expr(s"percentile(value, $p)")))
        events(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
               ok(0.5).as("median_ok"), ok(0.9).as("p90_ok"))
          .orderBy("event_type")
      }),

    // Batch sessionization: gap-based session assignment via
    // lag + cumulative sum — the batch form of the streaming
    // flatMapGroupsWithState sessionizer. All arithmetic is exact
    // epoch-MICROsecond longs on both sides (DuckDB reads the NANOS
    // parquet truncated to micros, so the Spark side truncates ts_ns
    // identically — a nanosecond gap straddling the 5-min boundary
    // would otherwise split sessions differently).
    QueryDef("q54_sessionization",
      Some("""
        WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
        g AS (SELECT user_id, event_id, tus,
                CASE WHEN tus - LAG(tus) OVER w IS NULL
                       OR tus - LAG(tus) OVER w > 300000000 THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        s AS (SELECT user_id, tus,
                SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                       ROWS UNBOUNDED PRECEDING) AS session_id
              FROM g)
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               MIN(tus) AS start_us, MAX(tus) AS end_us
        FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""),
      (s, d) => WarehouseQueries.sessionize(events(s, d)
          .select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("tus")),
          "new_session", "session_id")
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"),
             min("tus").as("start_us"), max("tus").as("end_us"))
        .orderBy("user_id", "session_id")),

    // True pivot operator (df.groupBy().pivot() with explicit values —
    // no collect-distinct planning pass): per-user event-type count
    // matrix. Spark leaves absent cells NULL where the oracle's
    // COUNT FILTER yields 0, so the cells coalesce explicitly.
    QueryDef("q57_pivot",
      Some("""
        SELECT user_id,
          CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
          CAST(COUNT(*) FILTER (WHERE event_type = 'error') AS BIGINT) AS error,
          CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
          CAST(COUNT(*) FILTER (WHERE event_type = 'signup') AS BIGINT) AS signup,
          CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view
        FROM events GROUP BY user_id ORDER BY user_id"""),
      (s, d) => {
        val types = Seq("click", "error", "purchase", "signup", "view")
        events(s, d)
          .groupBy("user_id").pivot("event_type", types).agg(count(lit(1)))
          .select(col("user_id") +:
            types.map(t => coalesce(col(t), lit(0L)).cast(LongType).as(t)): _*)
          .orderBy("user_id")
      }),

    // Unpivot/melt: wide metric columns to (key, metric, value) rows —
    // the long-format transform feature pipelines use. A deterministic
    // 1% key sample keeps the compared output bounded.
    QueryDef("q58_unpivot",
      Some("""
        WITH f AS (SELECT * FROM lineitem WHERE l_orderkey % 100 = 0)
        SELECT l_orderkey, l_linenumber, metric, value FROM (
          SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM f
          UNION ALL SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM f
          UNION ALL SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM f
          UNION ALL SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM f)
        ORDER BY l_orderkey, l_linenumber, metric"""),
      (s, d) => lineitem(s, d)
        .filter(col("l_orderkey") % 100 === 0)
        .unpivot(
          Array(col("l_orderkey"), col("l_linenumber")),
          Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
          "metric", "value")
        .orderBy("l_orderkey", "l_linenumber", "metric")),

    // Explicit GROUPING SETS with grouping() indicators — the general
    // form rollup/cube specialize, plus the flag that disambiguates
    // "NULL because aggregated away" from data NULLs.
    QueryDef("q62_grouping_sets",
      Some("""
        SELECT o_orderpriority, o_orderstatus,
               CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_pri,
               CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_st,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus), ())
        ORDER BY g_pri, g_st, o_orderpriority, o_orderstatus"""),
      (s, d) => orders(s, d)
        .groupingSets(
          Seq(Seq(col("o_orderpriority")), Seq(col("o_orderstatus")), Seq.empty),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping(col("o_orderpriority")).cast(IntegerType).as("g_pri"),
             grouping(col("o_orderstatus")).cast(IntegerType).as("g_st"),
             count(lit(1)).as("n"))
        .select("o_orderpriority", "o_orderstatus", "g_pri", "g_st", "n")
        .orderBy("g_pri", "g_st", "o_orderpriority", "o_orderstatus")),

    // Array higher-order functions with scalar outputs: filter / forall
    // / overlap / transform+fold over grouped arrays (the HOFs every
    // pipeline operator builds on, surfaced as a query).
    QueryDef("q63_array_hof",
      Some("""
        WITH a AS (SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
                   FROM lineitem GROUP BY l_orderkey)
        SELECT l_orderkey,
               CAST(len(list_filter(qs, x -> x > 25)) AS INTEGER) AS n_big,
               CAST(list_has_any(qs, [1.0, 2.0]) AS BOOLEAN) AS has_small,
               CAST((len(list_filter(qs, x -> x > 25)) = len(qs)) AS BOOLEAN) AS all_big,
               list_reduce(list_transform(qs, x -> CAST(floor(x) AS BIGINT)), (a, b) -> a + b) AS int_sum
        FROM a ORDER BY l_orderkey"""),
      (s, d) => lineitem(s, d)
        .groupBy("l_orderkey")
        .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
        .select(
          col("l_orderkey"),
          size(filter(col("qs"), x => x > 25)).as("n_big"),
          arrays_overlap(col("qs"), typedLit(Seq(1.0, 2.0))).as("has_small"),
          forall(col("qs"), x => x > 25).as("all_big"),
          // explicit floor on BOTH sides: a bare decimal->int cast
          // truncates in Spark but rounds in the oracle engine — only
          // integral data would mask the divergence
          aggregate(transform(col("qs"), x => floor(x).cast(LongType)),
            lit(0L), (a, b) => a + b).as("int_sum"))
        .orderBy("l_orderkey")),

    // Recursive CTE: iterative hierarchy traversal (region -> nation ->
    // customer as a parent-child edge list, walked from the roots with
    // depth tracking) — the general form of the reference's
    // code-hierarchy descent, executed by the engine's recursion
    // operator rather than hand-unrolled joins.
    QueryDef("q64_recursive_hierarchy",
      Some("""
        WITH RECURSIVE edges AS (
          SELECT 'N' || CAST(n_nationkey AS VARCHAR) AS child, 'R' || CAST(n_regionkey AS VARCHAR) AS parent FROM nation
          UNION ALL
          SELECT 'C' || CAST(c_custkey AS VARCHAR), 'N' || CAST(c_nationkey AS VARCHAR) FROM customer
        ),
        walk AS (
          SELECT 'R' || CAST(r_regionkey AS VARCHAR) AS node, 'R' || CAST(r_regionkey AS VARCHAR) AS root, 0 AS depth FROM region
          UNION ALL
          SELECT e.child, w.root, w.depth + 1
          FROM walk w JOIN edges e ON e.parent = w.node
        )
        SELECT root, depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
        FROM walk GROUP BY root, depth ORDER BY root, depth"""),
      (s, d) => {
        region(s, d).createOrReplaceTempView("region_q64")
        nation(s, d).createOrReplaceTempView("nation_q64")
        customer(s, d).createOrReplaceTempView("customer_q64")
        s.sql("""
          WITH RECURSIVE edges AS (
            SELECT 'N' || CAST(n_nationkey AS STRING) AS child, 'R' || CAST(n_regionkey AS STRING) AS parent FROM nation_q64
            UNION ALL
            SELECT 'C' || CAST(c_custkey AS STRING), 'N' || CAST(c_nationkey AS STRING) FROM customer_q64
          ),
          walk AS (
            SELECT 'R' || CAST(r_regionkey AS STRING) AS node, 'R' || CAST(r_regionkey AS STRING) AS root, 0 AS depth FROM region_q64
            UNION ALL
            SELECT e.child, w.root, w.depth + 1
            FROM walk w JOIN edges e ON e.parent = w.node
          )
          SELECT root, depth, CAST(COUNT(*) AS BIGINT) AS n_nodes
          FROM walk GROUP BY root, depth ORDER BY root, depth""")
      }),

    // CUBE: all grouping-set combinations in one pass.
    QueryDef("q44_cube",
      Some("""
        SELECT o_orderpriority, o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n
        FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)"""),
      (s, d) => orders(s, d)
        .cube("o_orderpriority", "o_orderstatus")
        .agg(count(lit(1)).as("n")))
  )

  /** FORWARD as-of join — q41's mirror: each purchase picks the NEXT
    * click at-or-after it (the follow-up-action probe: time-to-next-
    * touch, abandonment windows). Same one-pass shape: tag both
    * streams, one user-keyed shuffle, `last(_, ignoreNulls)` over the
    * DESCENDING time order — no range explosion, no per-row probe; at
    * an equal instant the click sorts first in the scan so `>=` is
    * honored. Oracle = DuckDB's native forward ASOF. The carried value
    * is the click's own timestamp, so ties produce identical output.
    */
  private lazy val q263: QueryDef =
    QueryDef("q263_asof_forward",
      Some(funnelBaseSql + """
        SELECT p.event_id, p.user_id, c.ts AS next_click_ts
        FROM p ASOF JOIN c ON p.user_id = c.user_id AND c.ts >= p.ts
        ORDER BY p.event_id"""),
      (s, d) => {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("is_p"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        clickPurchaseStream(s, d)
          .withColumn("next_click_ts",
            last("click_ts", ignoreNulls = true).over(w))
          .filter(col("is_p") === 1 && col("next_click_ts").isNotNull)
          .select(col("event_id"), col("user_id"), col("next_click_ts"))
          .orderBy("event_id")
      })

  // ---- q306-q308: DuckDB-replayable rows for the pure-array geo
  // functions (G2 force2D, G4 ST_Multi promotion, G5 ST_AsGeoJSON) —
  // previously spec-only, the last §2 operators outside the hash gate.
  // Fixtures are synthesized from nation.n_nationkey as GeoJSON text
  // with integer-derived coordinates suffixed ".0"/".5", so BOTH
  // engines can assemble bit-identical strings (Spark's to_json /
  // Jackson prints 10.0 as "10.0" and 10.5 as "10.5"; DuckDB
  // concatenates CAST(k AS VARCHAR) with the same suffixes — no
  // engine-varying float formatting anywhere). The JTS simplifier (G3)
  // stays spec-verified: topology-preserving simplification is not
  // SQL-expressible, documented in SURVEY §2.9.

  /** A 4-point closed ring as raw GeoJSON text. `threeD` appends a z
    * coordinate to every point (what force2D must strip). Base
    * coordinates derive from the integer column so both engines print
    * identical literals.
    */
  private def ringJson(b: org.apache.spark.sql.Column, threeD: Boolean)
      : org.apache.spark.sql.Column = {
    val s = b.cast("string")
    val z1 = if (threeD) ",1.0" else ""
    val z2 = if (threeD) ",2.5" else ""
    concat(lit("[["), s, lit(s".0,0.0$z1],["), s, lit(s".5,0.0$z2],["),
      s, lit(s".5,0.5$z1],["), s, lit(s".0,0.0$z1]]"))
  }

  /** The same ring's expected 2-D text, shared by the three oracles'
    * Spark sides only as documentation — the DuckDB mirrors assemble
    * it with `||`.
    */
  private lazy val ringSqlParts =
    ("'[[' || k || '.0,0.0],[' || k || '.5,0.0],[' || k ||" +
      " '.5,0.5],[' || k || '.0,0.0]]'")

  /** G2 / ST_Force2D as an oracle row: MultiPolygon coordinates with a
    * 3-D shell and a 2-D hole (keys divisible by 3) or all-2-D rings
    * (the rest) parse into the typed column, [[wilayah.Geo.force2D]]
    * strips z per point, and [[wilayah.Geo.asGeoJson]] serializes —
    * the mixed-dimensionality case the reference's data actually has.
    * The oracle assembles the expected 2-D GeoJSON text directly.
    */
  private lazy val q306: QueryDef =
    QueryDef("q306_geo_force2d",
      Some(s"""
        WITH n AS (SELECT n_nationkey AS key,
                          CAST(n_nationkey AS VARCHAR) AS k FROM nation),
        r AS (SELECT key, $ringSqlParts AS ring FROM n)
        SELECT key,
               '{"type":"MultiPolygon","coordinates":[[' || ring ||
                 CASE WHEN key % 3 = 0 THEN ',' || ring ELSE '' END ||
                 ']]}' AS geojson
        FROM r ORDER BY key"""),
      (s, d) => {
        val n = nation(s, d).select(col("n_nationkey").as("key"))
        val shell3 = ringJson(col("key"), threeD = true)
        val ring2 = ringJson(col("key"), threeD = false)
        // key % 3 = 0: 3-D shell + 2-D hole; others: one 2-D ring
        val rawCoords = when(col("key") % 3 === 0,
            concat(lit("[["), shell3, lit(","), ring2, lit("]]")))
          .otherwise(concat(lit("[["), ring2, lit("]]")))
        val coords = from_json(rawCoords, graft.wilayah.Model.coordinatesType)
        n.select(col("key"),
            graft.wilayah.Geo.asGeoJson(
              graft.wilayah.Geo.force2D(coords)).as("geojson"))
          .orderBy("key")
      })

  /** G4 / ST_Multi promotion as an oracle row, all four arms of
    * [[wilayah.Geo.promoteMultiParts]]: a bare Polygon wraps once
    * (key % 4 = 0), a MultiPolygon passes through (1), a non-areal
    * type quarantines to NULL (2), and MALFORMED Polygon coordinates
    * quarantine to NULL instead of becoming [null] (3 — the
    * parse-success guard). Output is the promoted GeoJSON text or
    * NULL; the oracle declares each arm's contract directly.
    */
  private lazy val q307: QueryDef =
    QueryDef("q307_geo_promote_multi",
      Some(s"""
        WITH n AS (SELECT n_nationkey AS key,
                          CAST(n_nationkey AS VARCHAR) AS k,
                          CAST(n_nationkey + 1 AS VARCHAR) AS k2
                   FROM nation),
        r AS (SELECT key, $ringSqlParts AS ring,
                     '[[' || k2 || '.0,0.0],[' || k2 || '.5,0.0],[' ||
                       k2 || '.5,0.5],[' || k2 || '.0,0.0]]' AS ring2
              FROM n)
        SELECT key,
               CASE key % 4
                 WHEN 0 THEN '{"type":"MultiPolygon","coordinates":[['
                   || ring || ']]}'
                 WHEN 1 THEN '{"type":"MultiPolygon","coordinates":[['
                   || ring || '],[' || ring2 || ']]}'
                 ELSE NULL
               END AS geojson
        FROM r ORDER BY key"""),
      (s, d) => {
        val n = nation(s, d).select(col("n_nationkey").as("key"))
        val ring = ringJson(col("key"), threeD = false)
        val ringNext = ringJson(col("key") + 1, threeD = false)
        val geomType = element_at(array(lit("Polygon"), lit("MultiPolygon"),
          lit("LineString"), lit("Polygon")),
          (pmod(col("key"), lit(4)) + 1).cast("int"))
        val coordsJson = element_at(array(
          concat(lit("["), ring, lit("]")),                         // Polygon
          concat(lit("[["), ring, lit("],["), ringNext, lit("]]")), // Multi
          ring,                                                     // Line
          lit("\"oops\"")),                              // malformed Polygon
          (pmod(col("key"), lit(4)) + 1).cast("int"))
        val promoted = graft.wilayah.Geo.promoteMultiParts(geomType, coordsJson)
        n.select(col("key"),
            when(promoted.isNotNull,
              graft.wilayah.Geo.asGeoJson(promoted)).as("geojson"))
          .orderBy("key")
      })

  /** G5 / ST_AsGeoJSON through the FULL reference write chain minus
    * the JTS simplifier ([[wilayah.Geo.promoteMultiFromJson]] ->
    * [[wilayah.Geo.force2D]] -> [[wilayah.Geo.asGeoJson]], the
    * server.js:92 normalization): whole GeoJSON geometry strings
    * (type extracted via get_json_object) — 3-D Polygons (even keys)
    * and 2-D two-part MultiPolygons (odd keys) — normalize to the
    * exact 2-D MultiPolygon text the oracle assembles.
    */
  private lazy val q308: QueryDef =
    QueryDef("q308_geo_asgeojson_chain",
      Some(s"""
        WITH n AS (SELECT n_nationkey AS key,
                          CAST(n_nationkey AS VARCHAR) AS k FROM nation),
        r AS (SELECT key, $ringSqlParts AS ring,
                     '[[' || CAST(key + 1 AS VARCHAR) || '.0,0.0],[' ||
                       CAST(key + 1 AS VARCHAR) || '.5,0.0],[' ||
                       CAST(key + 1 AS VARCHAR) || '.5,0.5],[' ||
                       CAST(key + 1 AS VARCHAR) || '.0,0.0]]' AS ring2
              FROM n)
        SELECT key,
               CASE WHEN key % 2 = 0
                 THEN '{"type":"MultiPolygon","coordinates":[[' || ring
                   || ']]}'
                 ELSE '{"type":"MultiPolygon","coordinates":[[' || ring
                   || '],[' || ring2 || ']]}'
               END AS geojson
        FROM r ORDER BY key"""),
      (s, d) => {
        val n = nation(s, d).select(col("n_nationkey").as("key"))
        val ring3 = ringJson(col("key"), threeD = true)
        val ring2 = ringJson(col("key"), threeD = false)
        val ringNext = ringJson(col("key") + 1, threeD = false)
        val geomJson = when(col("key") % 2 === 0,
            concat(lit("{\"type\":\"Polygon\",\"coordinates\":["),
              ring3, lit("]}")))
          .otherwise(
            concat(lit("{\"type\":\"MultiPolygon\",\"coordinates\":[["),
              ring2, lit("],["), ringNext, lit("]]}")))
        n.select(col("key"),
            graft.wilayah.Geo.asGeoJson(
              graft.wilayah.Geo.force2D(
                graft.wilayah.Geo.promoteMultiFromJson(geomJson)))
              .as("geojson"))
          .orderBy("key")
      })

  lazy val byName: Map[String, QueryDef] = all.map(q => q.name -> q).toMap
}
