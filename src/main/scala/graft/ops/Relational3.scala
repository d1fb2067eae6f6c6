package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.util.Delta
import graft.util.Tables._

/** Third relational batch — the remaining standard-taxonomy surface:
  * CUBE grouping sets, navigation window functions, generators
  * (explode/UNNEST), range joins, map- and array-typed computation,
  * and exact decimal aggregation. Same determinism contract as
  * Relational (rounded floats ranked on the rounded value; integer
  * arithmetic wherever both engines can be exact).
  */
object Relational3 {

  /** CUBE aggregation — all 2^k grouping-set combinations in one
    * pass (Catalyst expands to a single Expand + hash agg: one
    * shuffle regardless of the number of grouping sets).
    */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
        coalesce(col("l_linestatus"), lit("<all>")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy("flag", "status")

  val cubeAggSql: String =
    """SELECT coalesce(l_returnflag, '<all>') AS flag,
      |       coalesce(l_linestatus, '<all>') AS status,
      |       count(*) AS n,
      |       round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY flag, status""".stripMargin

  /** Navigation window functions: lag/lead/first_value/row_number/
    * ntile/cume_dist over each customer's order history. The ORDER BY
    * inside the window is made total (date, then key) so both engines
    * see identical frames. cume_dist over percent_rank: a single-row
    * partition is 1.0 in both engines (percent_rank divides by n-1).
    */
  def windowNav(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders(s, d).filter(col("o_custkey") < 200)
      .select(
        col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first_value(col("o_orderkey")).over(w).as("first_key"),
        row_number().over(w).as("rn"),
        ntile(4).over(w).as("quartile"),
        round(cume_dist().over(w), 6).as("cd"))
      .orderBy("o_custkey", "rn")
  }

  val windowNavSql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice,
      |       lag(o_totalprice, 1) OVER w AS prev_price,
      |       lead(o_totalprice, 1) OVER w AS next_price,
      |       first_value(o_orderkey) OVER w AS first_key,
      |       CAST(row_number() OVER w AS INT) AS rn,
      |       CAST(ntile(4) OVER w AS INT) AS quartile,
      |       round(cume_dist() OVER w, 6) AS cd
      |FROM orders WHERE o_custkey < 200
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  /** Generator / UNNEST: one output row per token with its position
    * (posexplode). The generator runs inside the scan stage — no
    * shuffle; at scale output size is input-bound (rows × tokens), so
    * the bounded block keeps the oracle replayable.
    */
  def explodeTokens(s: SparkSession, d: String): DataFrame =
    documents(s, d).filter(col("doc_id") < 100)
      .select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col("text"))).as(Seq("pos", "tok")))
      .orderBy("doc_id", "pos")

  val explodeTokensSql: String =
    """WITH t AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(text, '\s+'), x -> x != '') AS toks
      |  FROM documents WHERE doc_id < 100
      |)
      |SELECT doc_id, i - 1 AS pos, toks[i] AS tok
      |FROM t, LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) u
      |ORDER BY doc_id, pos""".stripMargin

  /** Range (theta) join: lineitem rows land in literal quantity
    * buckets via `lo <= q < hi`. The bucket side is tiny → Spark
    * broadcasts it and the non-equi condition evaluates inside a
    * BroadcastNestedLoopJoin — the right plan when one side is a
    * handful of ranges (each probe row scans 5 buckets, not a
    * cartesian blow-up).
    */
  def rangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val buckets = Seq((0, 10), (10, 20), (20, 30), (30, 40), (40, 51))
      .toDF("lo", "hi")
    lineitem(s, d).join(broadcast(buckets),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("lo"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity")), 2).as("sum_qty"))
      .orderBy("lo")
  }

  val rangeJoinSql: String =
    """SELECT lo, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
      |FROM lineitem
      |JOIN (SELECT * FROM (VALUES (0, 10), (10, 20), (20, 30), (30, 40),
      |                            (40, 51)) b(lo, hi))
      |  ON l_quantity >= lo AND l_quantity < hi
      |GROUP BY lo ORDER BY lo""".stripMargin

  /** Map-typed computation: per-user map of event_type → count built
    * with map_from_entries, then interrogated via map_keys /
    * element_at. Key order inside a map is engine-internal, so every
    * output derives from sorted keys or point lookups (the oracle
    * computes the same facts relationally — DuckDB needn't build a
    * map for the comparison to be exact).
    */
  def mapFuncs(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("user_id") < 100)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("n"))))
        .as("m"))
      .select(
        col("user_id"),
        size(col("m")).as("n_types"),
        array_join(array_sort(map_keys(col("m"))), ",").as("types"),
        coalesce(element_at(col("m"), "purchase"), lit(0L)).as("n_purchase"),
        coalesce(element_at(col("m"), "view"), lit(0L)).as("n_view"))
      .orderBy("user_id")

  val mapFuncsSql: String =
    """WITH pt AS (
      |  SELECT user_id, event_type, count(*) AS n
      |  FROM events WHERE user_id < 100 GROUP BY 1, 2
      |)
      |SELECT user_id, count(*) AS n_types,
      |       string_agg(event_type, ',' ORDER BY event_type) AS types,
      |       CAST(coalesce(sum(CASE WHEN event_type = 'purchase' THEN n END), 0)
      |            AS BIGINT) AS n_purchase,
      |       CAST(coalesce(sum(CASE WHEN event_type = 'view' THEN n END), 0)
      |            AS BIGINT) AS n_view
      |FROM pt GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Array-typed computation: per-order sorted quantity array, then
    * order statistics by position plus a higher-order-function sum.
    * All values are integer-valued doubles → exact in both engines.
    * (HOF lambdas evaluate interpreted — fine on short per-row arrays;
    * the fused-expression escape hatch is functions/TextExpressions.)
    */
  def arrayFuncs(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).filter(col("l_orderkey") < 2000)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qs"))
      .select(
        col("l_orderkey"),
        size(col("qs")).as("n_items"),
        element_at(col("qs"), 1).as("min_qty"),
        element_at(col("qs"), -1).as("max_qty"),
        element_at(col("qs"),
          ((size(col("qs")) + 1) / 2).cast("int")).as("med_lo_qty"),
        array_contains(col("qs"), 40.0).as("has_forty"),
        aggregate(col("qs"), lit(0.0), (acc, x) => acc + x).as("sum_qty"))
      .orderBy("l_orderkey")

  val arrayFuncsSql: String =
    """WITH t AS (
      |  SELECT l_orderkey, list_sort(list(l_quantity)) AS qs
      |  FROM lineitem WHERE l_orderkey < 2000 GROUP BY l_orderkey
      |)
      |SELECT l_orderkey,
      |       len(qs) AS n_items,
      |       qs[1] AS min_qty,
      |       qs[-1] AS max_qty,
      |       qs[CAST(floor((len(qs) + 1) / 2) AS INT)] AS med_lo_qty,
      |       list_contains(qs, 40.0) AS has_forty,
      |       CAST(list_sum(qs) AS DOUBLE) AS sum_qty
      |FROM t ORDER BY l_orderkey""".stripMargin

  /** Bag-semantics set operations — INTERSECT ALL / EXCEPT ALL keep
    * multiplicity (count-min per key) instead of deduplicating;
    * Catalyst plans them as a row_number-augmented join rather than
    * the semi/anti joins of the set-semantics forms.
    */
  def setOpsBag(s: SparkSession, d: String): DataFrame = {
    val early = orders(s, d)
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val highValue = orders(s, d).filter(col("o_totalprice") > 30000.0)
      .select(col("o_custkey"))
    early.intersectAll(highValue)
      .withColumn("tag", lit("both"))
      .unionByName(
        early.exceptAll(highValue).withColumn("tag", lit("early_only")))
      .groupBy(col("tag"), col("o_custkey"))
      .agg(count(lit(1)).as("multiplicity"))
      .orderBy("tag", "o_custkey")
  }

  val setOpsBagSql: String =
    """SELECT tag, o_custkey, count(*) AS multiplicity FROM (
      |  SELECT o_custkey, 'both' AS tag FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    INTERSECT ALL
      |    SELECT o_custkey FROM orders WHERE o_totalprice > 30000.0)
      |  UNION ALL
      |  SELECT o_custkey, 'early_only' AS tag FROM (
      |    SELECT o_custkey FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
      |    EXCEPT ALL
      |    SELECT o_custkey FROM orders WHERE o_totalprice > 30000.0)
      |) GROUP BY tag, o_custkey ORDER BY tag, o_custkey""".stripMargin

  /** Exact decimal aggregation: prices as DECIMAL(12,2) so the grouped
    * sums are exact integer arithmetic in both engines (no float
    * accumulation-order drift); only the final already-exact values
    * cast to DOUBLE for the comparison.
    */
  def decimalAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(12,2)").as("p"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("p")).cast("double").as("sum_price"),
        min(col("p")).cast("double").as("min_price"),
        max(col("p")).cast("double").as("max_price"))
      .orderBy("l_returnflag")

  val decimalAggSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |       CAST(min(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS min_price,
      |       CAST(max(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS max_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Null semantics: NULLIF-manufactured nulls interrogated with
    * null-safe equality (`<=>` / IS NOT DISTINCT FROM), coalesce,
    * null-skipping greatest/least and count(col) vs count(*) — the
    * testdata itself is null-free, so the nulls are produced and
    * consumed inside the query with identical rules in both engines.
    */
  def nullSemantics(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .withColumn("status_n", nullif(col("o_orderstatus"), lit("O")))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_total"),
        count(col("status_n")).as("n_nonnull"),
        sum(when(col("status_n") <=> lit(null), 1L).otherwise(0L))
          .as("n_nullsafe_null"),
        min(coalesce(col("status_n"), lit("<null>"))).as("min_coalesced"),
        round(max(greatest(col("o_totalprice"), lit(50000.0))), 2)
          .as("max_capped"))
      .orderBy("o_orderpriority")

  val nullSemanticsSql: String =
    """SELECT o_orderpriority,
      |       count(*) AS n_total,
      |       count(nullif(o_orderstatus, 'O')) AS n_nonnull,
      |       CAST(sum(CASE WHEN nullif(o_orderstatus, 'O') IS NOT DISTINCT FROM NULL
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_null,
      |       min(coalesce(nullif(o_orderstatus, 'O'), '<null>')) AS min_coalesced,
      |       round(max(greatest(o_totalprice, 50000.0)), 2) AS max_capped
      |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** Histogram via width_bucket: fixed-width value buckets (0..500 in
    * 25 bins). DuckDB lacks width_bucket, so the oracle replays the
    * definition arithmetically — same IEEE division and floor.
    */
  def histogram(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("bucket",
        width_bucket(col("value"), lit(0.0), lit(500.0), lit(25)))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), round(min(col("value")), 4).as("lo"),
        round(max(col("value")), 4).as("hi"))
      .orderBy("bucket")

  val histogramSql: String =
    """SELECT CAST(LEAST(GREATEST(1 + floor(value / (500.0 / 25)), 0), 26)
      |            AS BIGINT) AS bucket,
      |       count(*) AS n,
      |       round(min(value), 4) AS lo, round(max(value), 4) AS hi
      |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Exact interpolated percentiles (the non-sketch form): both
    * engines use the same (n-1)·p linear interpolation, and the
    * integer-valued quantities make every interpolated value exact in
    * binary — so unlike percentile_approx (deliberately rows-only in
    * sketch_agg), this hash-matches.
    */
  def quantiles(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_linestatus"))
      .agg(
        expr("percentile(l_quantity, 0.25)").as("q25"),
        expr("percentile(l_quantity, 0.5)").as("q50"),
        expr("percentile(l_quantity, 0.75)").as("q75"),
        count(lit(1)).as("n"))
      .orderBy("l_linestatus")

  val quantilesSql: String =
    """SELECT l_linestatus,
      |       quantile_cont(l_quantity, 0.25) AS q25,
      |       quantile_cont(l_quantity, 0.5) AS q50,
      |       quantile_cont(l_quantity, 0.75) AS q75,
      |       count(*) AS n
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  /** Join-strategy hints: the same equi-join forced through a
    * shuffle-hash join (vs Catalyst's default choice) — the
    * user-facing control surface for join planning; results are
    * strategy-independent (oracle = plain join), the HINT is the
    * point (spec-asserted plan).
    */
  def joinHinted(s: SparkSession, d: String): DataFrame =
    customer(s, d).hint("shuffle_hash")
      .join(orders(s, d), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("total"))
      .orderBy("c_mktsegment")

  val joinHintedSql: String =
    """SELECT c_mktsegment, count(*) AS n_orders,
      |       round(sum(o_totalprice), 2) AS total
      |FROM customer JOIN orders ON c_custkey = o_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  /** MERGE-style upsert (the lakehouse MERGE INTO re-expressed as a
    * plan Spark can run anywhere): target full-outer-joined with a
    * changes relation on the key; matched rows take the change's
    * values, unmatched-by-source keep the target's, unmatched-by-
    * target insert. One shuffle on the merge key — at scale the same
    * plan MERGE INTO compiles to, minus the transactional commit.
    * Changes here are derived deterministically (every 5th supplier
    * gets a 10% balance bump; three synthetic inserts) so the oracle
    * replays them.
    */
  def mergeUpsert(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val target = supplier(s, d)
    val updates = target.filter(col("s_suppkey") % 5 === 0)
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        round(col("s_acctbal") * 1.1, 4).as("s_acctbal"))
    val inserts = Seq(
      (9000001L, "Supplier#new1", 1, 100.0),
      (9000002L, "Supplier#new2", 2, 200.0),
      (9000003L, "Supplier#new3", 3, 300.0))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val changes = updates.unionByName(inserts)
    target.as("t").join(changes.as("c"),
        col("t.s_suppkey") === col("c.s_suppkey"), "full_outer")
      .select(
        coalesce(col("c.s_suppkey"), col("t.s_suppkey")).as("s_suppkey"),
        coalesce(col("c.s_name"), col("t.s_name")).as("s_name"),
        coalesce(col("c.s_nationkey"), col("t.s_nationkey"))
          .as("s_nationkey"),
        coalesce(col("c.s_acctbal"), col("t.s_acctbal")).as("s_acctbal"),
        when(col("t.s_suppkey").isNull, "insert")
          .when(col("c.s_suppkey").isNull, "keep")
          .otherwise("update").as("action"))
      .orderBy("s_suppkey")
  }

  val mergeUpsertSql: String =
    """WITH changes AS (
      |  SELECT s_suppkey, s_name, s_nationkey,
      |         round(s_acctbal * 1.1, 4) AS s_acctbal
      |  FROM supplier WHERE s_suppkey % 5 = 0
      |  UNION ALL
      |  SELECT * FROM (VALUES
      |    (9000001, 'Supplier#new1', 1, 100.0),
      |    (9000002, 'Supplier#new2', 2, 200.0),
      |    (9000003, 'Supplier#new3', 3, 300.0))
      |    v(s_suppkey, s_name, s_nationkey, s_acctbal)
      |)
      |SELECT coalesce(c.s_suppkey, t.s_suppkey) AS s_suppkey,
      |       coalesce(c.s_name, t.s_name) AS s_name,
      |       coalesce(c.s_nationkey, t.s_nationkey) AS s_nationkey,
      |       coalesce(c.s_acctbal, t.s_acctbal) AS s_acctbal,
      |       CASE WHEN t.s_suppkey IS NULL THEN 'insert'
      |            WHEN c.s_suppkey IS NULL THEN 'keep'
      |            ELSE 'update' END AS action
      |FROM supplier t FULL OUTER JOIN changes c
      |  ON t.s_suppkey = c.s_suppkey
      |ORDER BY s_suppkey""".stripMargin

  /** Correlated UPDATE-style merge: each customer's balance is bumped
    * by an aggregate of THEIR orders (the `UPDATE t SET x = x +
    * (SELECT agg FROM u WHERE u.k = t.k)` shape). The oracle keeps
    * the correlated scalar subquery the user would write; the engine
    * runs the decorrelated plan — one grouped aggregate of the inner
    * table joined back on the key, which is the only form that scales
    * (a per-row subquery re-scan is quadratic; the join shuffles each
    * side once and AQE picks broadcast when the delta side is small).
    */
  def mergeCorrelated(s: SparkSession, d: String): DataFrame = {
    // all money math in integer cents: 2-decimal source values are
    // near-integer after *100, integer sum/div are exact in both
    // engines, and bigint/100.0 renders bit-identically — no float
    // rounding tie can diverge (bonus = 0.01% of open total, floored
    // to the cent)
    val delta = orders(s, d)
      .filter(col("o_orderstatus") === "O")
      .groupBy(col("o_custkey"))
      .agg(expr("sum(CAST(round(o_totalprice * 100) AS BIGINT)) DIV 10000")
        .as("bonus_cents"),
        count(lit(1)).as("n_open"))
    customer(s, d).as("t")
      .withColumn("acct_cents",
        round(col("c_acctbal") * 100).cast("long"))
      .join(delta.as("u"), col("c_custkey") === col("o_custkey"),
        "left_outer")
      .select(col("c_custkey"),
        ((col("acct_cents") + coalesce(col("bonus_cents"), lit(0L)))
          / 100.0).as("c_acctbal_new"),
        (col("acct_cents") / 100.0).as("c_acctbal_old"),
        coalesce(col("n_open"), lit(0L)).as("n_open"),
        when(col("bonus_cents").isNull, "keep").otherwise("update")
          .as("action"))
      .orderBy("c_custkey")
  }

  val mergeCorrelatedSql: String =
    """WITH c2 AS (
      |  SELECT c_custkey,
      |         CAST(round(c_acctbal * 100) AS BIGINT) AS acct_cents
      |  FROM customer
      |)
      |SELECT c_custkey,
      |       (acct_cents + coalesce(
      |         (SELECT CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
      |                      AS BIGINT) // 10000
      |          FROM orders o
      |          WHERE o.o_custkey = c2.c_custkey
      |            AND o.o_orderstatus = 'O'), 0)) / 100.0 AS c_acctbal_new,
      |       acct_cents / 100.0 AS c_acctbal_old,
      |       coalesce((SELECT count(*) FROM orders o
      |                 WHERE o.o_custkey = c2.c_custkey
      |                   AND o.o_orderstatus = 'O'), 0) AS n_open,
      |       CASE WHEN EXISTS (SELECT 1 FROM orders o
      |                         WHERE o.o_custkey = c2.c_custkey
      |                           AND o.o_orderstatus = 'O')
      |            THEN 'update' ELSE 'keep' END AS action
      |FROM c2 ORDER BY c_custkey""".stripMargin

  /** Spark 4 VariantType: semi-structured payloads parsed ONCE into
    * the binary variant encoding, then field-extracted with typed
    * variant_get — the open-format successor to string-walking
    * get_json_object (rel_json_extract keeps the classic form for
    * comparison). The oracle replays extraction relationally from the
    * JSON text.
    */
  def variantJson(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("v", parse_json(col("props")))
      .select(col("event_type"),
        expr("variant_get(v, '$.k', 'long')").as("k"))
      .groupBy(col("event_type"))
      .agg(count(col("k")).as("n_with_k"), sum(col("k")).as("sum_k"),
        max(col("k")).as("max_k"))
      .orderBy("event_type")

  val variantJsonSql: String =
    """SELECT event_type,
      |       count(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |         AS n_with_k,
      |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
      |            AS BIGINT) AS sum_k,
      |       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Error-safe scalar functions: try_cast / try_divide return NULL
    * instead of failing the job — the semantics a pipeline needs when
    * a handful of malformed rows must not kill a 100 TB scan. The
    * malformed input is manufactured in-query (numeric-or-not
    * substrings of p_name) so both engines see identical data.
    */
  def tryFuncs(s: SparkSession, d: String): DataFrame =
    part(s, d)
      // "maybe a number": digits of the partkey for even keys, a word
      // for odd keys — try_cast succeeds on exactly the even half
      .withColumn("raw",
        when(col("p_partkey") % 2 === 0, col("p_partkey").cast("string"))
          .otherwise(substring(col("p_name"), 1, 3)))
      .select(
        col("p_partkey"),
        expr("try_cast(raw AS BIGINT)").as("parsed"),
        expr("try_divide(p_retailprice, p_partkey % 3)").as("risky_div"))
      .groupBy(lit(1).as("grp"))
      .agg(count(col("parsed")).as("n_parsed"),
        count(lit(1)).as("n_total"),
        count(col("risky_div")).as("n_divided"),
        round(sum(col("risky_div")), 4).as("sum_div"))
      .drop("grp")

  val tryFuncsSql: String =
    """WITH t AS (
      |  SELECT p_partkey,
      |         CASE WHEN p_partkey % 2 = 0 THEN CAST(p_partkey AS VARCHAR)
      |              ELSE substring(p_name, 1, 3) END AS raw,
      |         p_retailprice
      |  FROM part
      |)
      |SELECT count(try_cast(raw AS BIGINT)) AS n_parsed,
      |       count(*) AS n_total,
      |       count(p_retailprice / nullif(p_partkey % 3, 0)) AS n_divided,
      |       round(sum(p_retailprice / nullif(p_partkey % 3, 0)), 4)
      |         AS sum_div
      |FROM t""".stripMargin

  /** Interval arithmetic: timestamp ± INTERVAL, day difference, and
    * month truncation windows — the calendar algebra both engines
    * define identically (calendar months, day-grain datediff).
    */
  def intervalArith(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_custkey") < 100)
      .select(
        col("o_orderkey"),
        col("o_orderdate"),
        expr("o_orderdate + INTERVAL '30' DAY").as("due_date"),
        expr("datediff(o_orderdate, TIMESTAMP '1995-01-01')")
          .cast("long").as("days_since_epoch_start"),
        expr("date_trunc('quarter', o_orderdate)").as("quarter_start"))
      .orderBy("o_orderkey")

  val intervalArithSql: String =
    """SELECT o_orderkey, o_orderdate,
      |       o_orderdate + INTERVAL 30 DAY AS due_date,
      |       CAST(datediff('day', TIMESTAMP '1995-01-01', o_orderdate)
      |            AS BIGINT) AS days_since_epoch_start,
      |       date_trunc('quarter', o_orderdate) AS quarter_start
      |FROM orders WHERE o_custkey < 100 ORDER BY o_orderkey""".stripMargin

  /** Explicit cartesian product — crossJoin of the two smallest
    * dimensions (5×25 rows): the one join shape that must be OPTED
    * into (no key), planned as a broadcast nested loop. Taxonomy
    * completeness; any real use keeps one side tiny, as here.
    */
  def crossJoinDims(s: SparkSession, d: String): DataFrame =
    region(s, d).select(col("r_regionkey"), col("r_name"))
      .crossJoin(nation(s, d).select(col("n_nationkey"), col("n_name")))
      .select(col("r_regionkey"), col("n_nationkey"), col("r_name"),
        col("n_name"))
      .orderBy("r_regionkey", "n_nationkey")

  val crossJoinDimsSql: String =
    """SELECT r_regionkey, n_nationkey, r_name, n_name
      |FROM region CROSS JOIN nation
      |ORDER BY r_regionkey, n_nationkey""".stripMargin

  /** UNPIVOT (melt) — the inverse of events_pivot: wide per-flag
    * aggregates melted to (flag, metric, value) long form. Spark 4's
    * Dataset.unpivot ↔ DuckDB's UNPIVOT, value columns cast to a
    * common type up front so both engines agree on the melted type.
    */
  def unpivotAgg(s: SparkSession, d: String): DataFrame = {
    val wide = lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
        // case-2 tie shape (2-decimal data): exact cents numerator,
        // one division — see Relational.scala taxonomy
        (sum(round(col("l_discount") * 100).cast("long"))
          / (lit(100.0) * count(lit(1)))).as("avg_disc"),
        count(lit(1)).cast("double").as("n_rows"))
    wide.unpivot(
      Array(col("l_returnflag")),
      Array(col("sum_qty"), col("avg_disc"), col("n_rows")),
      "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  val unpivotAggSql: String =
    """WITH wide AS (
      |  SELECT l_returnflag,
      |         round(sum(l_quantity), 2) AS sum_qty,
      |         sum(CAST(round(l_discount * 100) AS BIGINT)) / (100.0 * count(*)) AS avg_disc,
      |         CAST(count(*) AS DOUBLE) AS n_rows
      |  FROM lineitem GROUP BY l_returnflag
      |)
      |SELECT l_returnflag, metric, value
      |FROM wide UNPIVOT (value FOR metric IN (sum_qty, avg_disc, n_rows))
      |ORDER BY l_returnflag, metric""".stripMargin

  /** SCD type-2 dimension build: per customer, collapse the order
    * history into status-change intervals — a row per (customer,
    * status run) with [valid_from, valid_to) bounds, version number
    * and current flag. The standard dimension-table maintenance
    * derivation: one window pass to mark changes (lag), a filter, a
    * second window pass for interval ends (lead) and versions. Both
    * windows share the (o_custkey × date, key) partitioning, so the
    * whole build is ONE shuffle; at warehouse scale this runs
    * incrementally against yesterday's dimension via rel_merge_upsert.
    */
  def scd2(s: SparkSession, d: String): DataFrame = scd2Of(orders(s, d))

  /** The SCD2 derivation over any orders-shaped relation — shared by
    * the full build and the incremental merge below.
    */
  private[ops] def scd2Of(ord: DataFrame): DataFrame = {
    val byCust = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    ord
      .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
        col("o_orderkey"))
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(byCust))
      .filter(col("prev_status").isNull
        || col("prev_status") =!= col("o_orderstatus"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(byCust))
      .withColumn("version", row_number().over(byCust))
      .select(col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"),
        col("valid_to"),
        col("version"),
        col("valid_to").isNull.as("is_current"))
      .orderBy("custkey", "version")
  }

  val scd2Sql: String =
    """WITH marked AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |         lag(o_orderstatus) OVER w AS prev_status
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |               ORDER BY o_orderdate, o_orderkey)
      |), changes AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey
      |  FROM marked
      |  WHERE prev_status IS NULL OR prev_status != o_orderstatus
      |)
      |SELECT o_custkey AS custkey, o_orderstatus AS status,
      |       o_orderdate AS valid_from,
      |       lead(o_orderdate) OVER w AS valid_to,
      |       CAST(row_number() OVER w AS INT) AS version,
      |       (lead(o_orderdate) OVER w IS NULL) AS is_current
      |FROM changes
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY custkey, version""".stripMargin

  /** Rolling exact median: `percentile` as a WINDOW aggregate over a
    * trailing 6-row frame — the windowed form of exact quantiles
    * (rel_quantiles is the grouped form). Exact interpolation over a
    * bounded frame is cheap; the unbounded-preceding variant is what
    * a t-digest sketch replaces at scale. Frame order is the unique
    * (l_orderkey, l_linenumber) key, so both engines see identical
    * frames.
    */
  def rollingMedian(s: SparkSession, d: String): DataFrame = {
    // ROWS frames need a TOTAL order or frame membership differs per
    // engine on ties — (l_orderkey, l_linenumber) is NOT unique in
    // the testdata (verified); the 6-column key below is, at all sfs
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"))
      .rowsBetween(-5, 0)
    lineitem(s, d)
      .filter(col("l_orderkey") < 1000)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_quantity"),
        round(percentile(col("l_quantity"), lit(0.5)).over(w), 4)
          .as("rolling_median"))
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
  }

  val rollingMedianSql: String =
    """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
      |       round(quantile_cont(l_quantity, 0.5) OVER w, 4)
      |         AS rolling_median
      |FROM lineitem
      |WHERE l_orderkey < 1000
      |WINDOW w AS (PARTITION BY l_returnflag
      |             ORDER BY l_orderkey, l_linenumber, l_partkey,
      |                      l_suppkey, l_quantity, l_extendedprice
      |             ROWS BETWEEN 5 PRECEDING AND CURRENT ROW)
      |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin

  /** Yesterday's converged dimension — the SCD2 output over the base
    * (pre-cutoff) history, persisted once per corpus (a real pipeline
    * reads yesterday's dimension table; it never re-derives it from
    * raw history). [[scd2Of]]'s final (custkey, version) sort makes
    * the artifact custkey-CLUSTERED on disk for free — the layout the
    * patch pass streams in key order.
    */
  private[graft] def baseScd2Table(s: SparkSession, d: String,
      delta: Delta = Delta.Orders): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("scd2base", d)) {
      scd2Of(delta.base(orders(s, d)))
    }

  /** Today's order batch, memoized beside the base artifacts (the
    * `deltaGraphPairs` precedent: the delta extraction is
    * deterministic per corpus and MORE THAN ONE branch of the update
    * consumes it — without the memo each consumer re-scans the whole
    * history for its own copy of the filter).
    */
  private[graft] def deltaOrdersTable(s: SparkSession, d: String,
      delta: Delta): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("scd2delta", d)) {
      delta.batch(orders(s, d))
        .select(col("o_custkey"), col("o_orderstatus"), col("o_orderdate"),
          col("o_orderkey"))
    }

  /** INCREMENTAL SCD2 maintenance — yesterday's PERSISTED dimension +
    * today's delta, as a true append-merge: the delta's change rows
    * are derived from the delta alone (seeded with each affected
    * customer's current status), and the only base work is ONE
    * streaming patch pass over the persisted dimension closing the
    * open interval of customers that changed. Raw base history is
    * NEVER re-scanned — before r17 this query recomputed yesterday's
    * dimension from raw orders inside its own plan, so its cost was
    * O(history) in incremental clothing; the const-delta audit
    * (VERDICT r16 #4) is what forced the honest form.
    *
    * Work accounting per daily run: delta scan + delta-bounded window
    * work + three broadcast-built joins whose build sides are all
    * bounded by the batch's churn (affected keys, their current rows,
    * their first change dates) + one scan-only pass over the
    * dimension (output-sized — the query EMITS the merged dimension,
    * so that pass is the output's own lower bound, the
    * `graph_degree_incremental` "|V|-sized merged output" argument).
    * No exchange touches the dimension anywhere.
    *
    * The split must keep the append contract on [[Delta.Orders]]: a
    * TIME SUFFIX per customer, under which the seed status is exact.
    * The constant-sized-delta control (tools.Profile `incscd2const`)
    * passes its own [[Delta]].
    *
    * The ORACLE is the FULL REBUILD (same SQL as rel_scd2): hash
    * equality proves append-merge ≡ batch rebuild exactly — versions,
    * interval bounds and current flags all reproduced.
    */
  def scd2Incremental(s: SparkSession, d: String,
      delta: Delta = Delta.Orders): DataFrame = {
    val base = baseScd2Table(s, d, delta)
    val batch = deltaOrdersTable(s, d, delta)
    val affected = batch.select(col("o_custkey")).distinct()
    // yesterday's current row per affected customer: one scan-only
    // pass over the persisted dimension, semi-joined against the
    // batch's bounded key set
    val curAff = base.filter(col("is_current"))
      .select(col("custkey").as("o_custkey"),
        col("status").as("cur_status"),
        col("version").as("cur_version"))
      .join(broadcast(affected), Seq("o_custkey"), "left_semi")
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    // delta change mining, seeded with the current status (exact under
    // the append contract — see the scaladoc); new customers seed null
    // and their first row is always a change
    val dchanges = batch
      .join(broadcast(curAff), Seq("o_custkey"), "left_outer")
      .withColumn("prev_status",
        coalesce(lag(col("o_orderstatus"), 1).over(w), col("cur_status")))
      .filter(col("prev_status").isNull
        || col("prev_status") =!= col("o_orderstatus"))
    val dver = dchanges
      .withColumn("didx", row_number().over(w))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
    val deltaRows = dver.select(
      col("o_custkey").as("custkey"),
      col("o_orderstatus").as("status"),
      col("o_orderdate").as("valid_from"),
      col("valid_to"),
      (coalesce(col("cur_version"), lit(0)) + col("didx")).as("version"),
      col("valid_to").isNull.as("is_current"))
    // the only fact that can touch a base row: the customer's first
    // delta change closes their open interval
    val firstD = dver.filter(col("didx") === 1)
      .select(col("o_custkey").as("custkey"),
        col("o_orderdate").as("first_change"))
    val patched = base.join(broadcast(firstD), Seq("custkey"), "left_outer")
      .select(col("custkey"), col("status"), col("valid_from"),
        when(col("is_current") && col("first_change").isNotNull,
          col("first_change")).otherwise(col("valid_to")).as("valid_to"),
        col("version"),
        (col("is_current") && col("first_change").isNull).as("is_current"))
    patched.unionByName(deltaRows).orderBy("custkey", "version")
  }

  // identical to the full rebuild — that equality IS the check
  val scd2IncrementalSql: String = scd2Sql

  /** INCREMENTAL AGGREGATE maintenance — materialized-view upkeep for
    * distributive aggregates: yesterday's per-customer state
    * (count / integer-cents sum / max date) + today's delta,
    * combined state-to-state. The merge is one streaming patch of the
    * PERSISTED state — counts and sums add, max takes the greater —
    * so raw history is NEVER re-scanned: the delta aggregates over
    * one ingest window and the base is read back as the state table
    * written yesterday (before r17 this query re-aggregated base
    * history in-plan; the const-delta audit, VERDICT r16 #4, forced
    * the honest form). At 100 TB this is the difference between an
    * overnight MV refresh costing O(delta) and one costing
    * O(history). avg/stddev derive from (sum, count, sum²) the same
    * way; non-distributive aggregates (median, distinct) need
    * sketches (see sketch_kll_rollup / sketch_hll_rollup — the same
    * merge discipline with mergeable summaries).
    *
    * The ORACLE is the FULL REBUILD (rel_scd2_incremental
    * discipline): hash equality proves merged state ≡ recomputing
    * from all of history.
    */
  /** The distributive per-customer state (count / integer-cents sum /
    * max date) over any orders subset — shared by the persisted base
    * state, the delta state, and the full-rebuild replay.
    */
  private[graft] def aggStateOf(df: DataFrame): DataFrame = df
    .groupBy(col("o_custkey"))
    .agg(count(lit(1)).as("n_orders"),
      sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"),
      max(col("o_orderdate")).as("last_order"))

  /** Yesterday's MV state, persisted once per corpus and key-CLUSTERED
    * (range-partitioned + sorted on o_custkey — the lake layout the
    * patch pass streams). Before r17 the registered query re-aggregated
    * the base history inside its own plan; a real MV refresh reads the
    * state it wrote yesterday.
    */
  private[graft] def baseAggState(s: SparkSession, d: String,
      delta: Delta = Delta.Orders): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("aggstate", d)) {
      aggStateOf(delta.base(orders(s, d)))
        .repartitionByRange(col("o_custkey"))
        .sortWithinPartitions("o_custkey")
    }

  /** Today's delta STATE, memoized (the `deltaGraphPairs` precedent):
    * three branches of the merge consume it (patch build, touched-key
    * probe, new-customer anti), and without the memo each one re-ran
    * the history scan + aggregation — measured +50% on the whole
    * update at the sf10 fraction fixture.
    */
  private[graft] def deltaAggState(s: SparkSession, d: String,
      delta: Delta): DataFrame =
    graft.util.ScratchIndex.materialize(s, delta.key("aggdelta", d)) {
      aggStateOf(delta.batch(orders(s, d)))
    }

  /** The update path. [[Delta.broadcast]] picks the patch-join shape,
    * exactly the `degreeIncremental` adjudication: the REGISTERED
    * fixture's delta is a ~40% fraction of the MV (every decade, by the
    * date cutoff's construction), past profitable broadcast size, so it
    * keeps a shuffle-hash patch join (ONE exchange of the MV state —
    * which on a lake layout bucketed by key disappears); a real
    * constant-sized daily batch IS broadcast-sized, and with the
    * delta broadcast the persisted state is never exchanged at all:
    * the whole refresh is one scan-only patch pass plus the
    * delta-bounded aggregation. The new-customer branch anti-joins
    * the delta state against the BOUNDED set of base keys the delta
    * touched (itself one broadcast-semi scan of the state), so no
    * branch ever builds a map from the MV side.
    */
  def aggIncremental(s: SparkSession, d: String,
      delta: Delta = Delta.Orders): DataFrame = {
    val base = baseAggState(s, d, delta)
    val batch = deltaAggState(s, d, delta)
    val hinted = if (delta.broadcast) broadcast(batch)
      else batch.hint("shuffle_hash")
    val patched = base.as("b")
      .join(hinted.as("dl"), Seq("o_custkey"), "left_outer")
      .select(col("o_custkey"),
        (col("b.n_orders")
          + coalesce(col("dl.n_orders"), lit(0L))).as("n_orders"),
        ((col("b.cents")
          + coalesce(col("dl.cents"), lit(0L))) / 100.0).as("total_spend"),
        greatest(col("b.last_order"), col("dl.last_order")).as("last_order"))
      // always-true invariant referencing the JOINED column: without
      // it Catalyst eliminates this left join against the key-unique
      // delta aggregate under a bare count() (bench/profile consume
      // by count — the text_ngram_novelty lesson, NOTES r14; observed
      // again on this query's as-counted plan in r17) and the
      // "measurement" times a plain state scan
      .filter(col("n_orders") >= 0L)
    val touchedBaseKeys = base.select(col("o_custkey"))
      .join(broadcast(batch.select(col("o_custkey"))),
        Seq("o_custkey"), "left_semi")
    val newbies = batch
      .join(broadcast(touchedBaseKeys), Seq("o_custkey"), "left_anti")
      .select(col("o_custkey"), col("n_orders"),
        (col("cents") / 100.0).as("total_spend"), col("last_order"))
    patched.unionByName(newbies).orderBy("o_custkey")
  }

  val aggIncrementalSql: String =
    """SELECT o_custkey, count(*) AS n_orders,
      |       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0
      |         AS total_spend,
      |       max(o_orderdate) AS last_order
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** Query-attached OBSERVABLE METRICS (`Dataset.observe`): data-
    * quality counters accumulated on the executors as a side effect
    * of the pipeline's OWN action — scan count, integer-cents
    * revenue, constraint-violation tallies — delivered to the driver
    * with the action's result. At 100 TB a separate validation query
    * doubles the IO bill; the observe() node rides the main pass for
    * free. The observe sits directly on the scan (ABOVE the filter),
    * so the metrics describe the full input relation while the
    * pipeline exports only the filtered rows — the usual
    * ingest-audit split. Oracled against a direct SQL recompute,
    * proving the side channel saw exactly the scanned relation.
    */
  def observeMetrics(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Observation instances are single-use: fresh name per call so
    // bench cold/warm sweeps don't collide
    val obs = new org.apache.spark.sql.Observation(
      s"graft_obs_${java.util.UUID.randomUUID().toString.take(8)}")
    val pipeline = lineitem(s, d)
      .observe(obs,
        count(lit(1)).as("rows_seen"),
        sum(expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
          .as("revenue_cents"),
        sum(when(col("l_quantity") < 0, 1L).otherwise(0L))
          .as("neg_qty_rows"),
        sum(when(col("l_shipdate").isNull, 1L).otherwise(0L))
          .as("null_shipdate_rows"))
      .filter(col("l_quantity") > 10)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    val exported = pipeline.count() // the pipeline's action; metrics ride along
    val m = obs.get
    Seq((m("rows_seen").asInstanceOf[Long],
      m("revenue_cents").asInstanceOf[Long] / 100.0,
      m("neg_qty_rows").asInstanceOf[Long],
      m("null_shipdate_rows").asInstanceOf[Long],
      exported))
      .toDF("rows_seen", "revenue", "neg_qty_rows", "null_shipdate_rows",
        "rows_exported")
  }

  val observeMetricsSql: String =
    """SELECT count(*) AS rows_seen,
      |       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
      |         AS revenue,
      |       CAST(sum(CASE WHEN l_quantity < 0 THEN 1 ELSE 0 END)
      |            AS BIGINT) AS neg_qty_rows,
      |       CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
      |            AS BIGINT) AS null_shipdate_rows,
      |       (SELECT count(*) FROM lineitem WHERE l_quantity > 10)
      |         AS rows_exported
      |FROM lineitem""".stripMargin

  /** Explicit GROUPING SETS — arbitrary grouping combinations in one
    * Expand + one shuffle (cube/rollup are the closed-form cousins;
    * this is the general form a reporting layer emits). grouping_id
    * disambiguates the (NULL-keyed) set each row came from.
    */
  def groupingSets(s: SparkSession, d: String): DataFrame =
    orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total"),
        grouping_id().as("gid"))
      .orderBy(asc_nulls_first("o_orderstatus"),
        asc_nulls_first("o_orderpriority"), asc("gid"))

  val groupingSetsSql: String =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
      |       round(sum(o_totalprice), 4) AS total,
      |       CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
      |                        (o_orderstatus), ())
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST,
      |         gid""".stripMargin

  /** Discrete vs continuous percentiles: quantile_disc picks an
    * actual data value (smallest with cume_dist ≥ p — here via
    * sorted-array indexing at ceil(p·n)), quantile_cont interpolates.
    * Reporting both per group pins the exact-selection semantics the
    * approx sketches trade away.
    */
  def percentileDisc(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(sort_array(collect_list(col("l_quantity"))).as("qs"),
        count(lit(1)).as("n"),
        round(percentile(col("l_quantity"), lit(0.5)), 4).as("p50_cont"))
      .select(col("l_returnflag"), col("n"),
        element_at(col("qs"), ceil(col("n") * 0.5).cast("int"))
          .as("p50_disc"),
        element_at(col("qs"), ceil(col("n") * 0.9).cast("int"))
          .as("p90_disc"),
        col("p50_cont"))
      .orderBy("l_returnflag")

  val percentileDiscSql: String =
    """SELECT l_returnflag, count(*) AS n,
      |       quantile_disc(l_quantity, 0.5) AS p50_disc,
      |       quantile_disc(l_quantity, 0.9) AS p90_disc,
      |       round(quantile_cont(l_quantity, 0.5), 4) AS p50_cont
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Null-safe equi-JOIN: `<=>` as the join condition, so NULL keys
    * match NULL dimension rows instead of dropping — the lookup-table
    * pattern where "unknown" is itself a dimension value. Catalyst
    * still plans this as an equi-join (null-safe equality is a valid
    * hash key), so the broadcast path survives.
    */
  def nullSafeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dim = Seq(("F", "finished"), ("P", "pending"),
      (null.asInstanceOf[String], "open"))
      .toDF("dk", "label")
    orders(s, d)
      .withColumn("k", nullif(col("o_orderstatus"), lit("O")))
      .join(broadcast(dim), col("k") <=> col("dk"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice")), 4).as("total"))
      .orderBy("label")
  }

  val nullSafeJoinSql: String =
    """SELECT label, count(*) AS n,
      |       round(sum(o_totalprice), 4) AS total
      |FROM (SELECT nullif(o_orderstatus, 'O') AS k, o_totalprice
      |      FROM orders) f
      |JOIN (VALUES ('F', 'finished'), ('P', 'pending'), (NULL, 'open'))
      |     d(k, label)
      |  ON f.k IS NOT DISTINCT FROM d.k
      |GROUP BY label ORDER BY label""".stripMargin

  /** Ordered string aggregation — Spark 4's `listagg` WITHIN GROUP
    * (SQL:2016), the report/export shape for collapsing a group's
    * members into one delimited field. The explicit ORDER BY inside
    * the aggregate is what makes the result deterministic across
    * partitionings (collect_list order is not a contract); c_name is
    * unique so the sort is tie-free and the oracle hash is exact.
    * Scale: one partial+final aggregate pair like any other agg —
    * the per-group payload (not the corpus) bounds memory.
    */
  def listAgg(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .filter(col("c_nationkey") < 10)
      .groupBy(col("c_nationkey"))
      .agg(expr("listagg(c_name, ',') WITHIN GROUP (ORDER BY c_name)")
        .as("names"),
        count(lit(1)).as("n_customers"))
      .orderBy("c_nationkey")

  val listAggSql: String =
    """SELECT c_nationkey,
      |       string_agg(c_name, ',' ORDER BY c_name) AS names,
      |       count(*) AS n_customers
      |FROM customer WHERE c_nationkey < 10
      |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin

  /** Market-basket association rules over orders: the 100 most
    * frequent co-purchased part pairs with support, directional
    * confidence, and lift — the classic frequent-itemset/
    * recommendation statistic (public: Agrawal & Srikant, VLDB'94),
    * and the FREQUENCY complement of the graph suite's structural
    * pair queries (Graph.commonNeighbors scores how connected two
    * parts' neighborhoods are; this scores how often the pair itself
    * co-occurs vs chance).
    *
    * Plan shape at scale: per-order item sets dedup in ONE exchange
    * on l_orderkey; the pair enumeration is then a self-equi-join on
    * the SAME key (AQE reuses the co-partitioning — no second
    * full-table shuffle), and pair counts partial-aggregate map-side
    * before their exchange. Per-item supports and the order count are
    * two scalar-sized side relations joined onto the top pairs —
    * broadcast at any corpus size. The final top-100 is a
    * TakeOrderedAndProject on (n_ab DESC, p1, p2) — integer keys,
    * unique-pair tiebreak, no global sort.
    *
    * Float discipline: confidence = n_ab / n_a and
    * lift = (n_orders · n_ab) / (n_a · n_b) are exact BIGINT products
    * into ONE IEEE division each — bit-identical across engines, no
    * rounding — and neither is ever a sort key.
    */
  def basketLift(s: SparkSession, d: String): DataFrame = {
    val items = lineitem(s, d)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val pairs = items.toDF("ok", "p1")
      .join(items.toDF("ok", "p2"), Seq("ok"))
      .filter(col("p1") < col("p2"))
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("n_ab"))
      .orderBy(col("n_ab").desc, col("p1"), col("p2"))
      .limit(100)
    val support = items.groupBy(col("p").as("v"))
      .agg(count(lit(1)).as("n_v"))
    val nOrders = items.select(countDistinct(col("ok")).as("n_orders"))
    pairs
      .join(support.select(col("v"), col("n_v").as("n_a")),
        col("p1") === col("v")).drop("v")
      .join(support.select(col("v"), col("n_v").as("n_b")),
        col("p2") === col("v")).drop("v")
      .crossJoin(nOrders)
      .select(col("p1"), col("p2"), col("n_ab"), col("n_a"), col("n_b"),
        (col("n_ab").cast("double") / col("n_a").cast("double"))
          .as("confidence"),
        ((col("n_orders") * col("n_ab")).cast("double")
          / (col("n_a") * col("n_b")).cast("double")).as("lift"))
      .orderBy(col("n_ab").desc, col("p1"), col("p2"))
  }

  /** Same shapes: per-order distinct items, pair self-join, the same
    * integer products cast to DOUBLE before their single division.
    */
  val basketLiftSql: String =
    """WITH items AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
      |), pairs AS (
      |  SELECT a.p AS p1, b.p AS p2, count(*) AS n_ab
      |  FROM items a JOIN items b ON a.ok = b.ok AND a.p < b.p
      |  GROUP BY 1, 2
      |  ORDER BY n_ab DESC, p1, p2 LIMIT 100
      |), support AS (
      |  SELECT p AS v, count(*) AS n_v FROM items GROUP BY p
      |), no AS (
      |  SELECT count(DISTINCT ok) AS n_orders FROM items
      |)
      |SELECT p1, p2, n_ab, sa.n_v AS n_a, sb.n_v AS n_b,
      |       CAST(n_ab AS DOUBLE) / CAST(sa.n_v AS DOUBLE) AS confidence,
      |       CAST((SELECT n_orders FROM no) * n_ab AS DOUBLE)
      |         / CAST(sa.n_v * sb.n_v AS DOUBLE) AS lift
      |FROM pairs
      |JOIN support sa ON sa.v = p1
      |JOIN support sb ON sb.v = p2
      |ORDER BY n_ab DESC, p1, p2""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "rel_basket_lift" -> (basketLift _),
    "rel_listagg" -> (listAgg _),
    "rel_null_safe_join" -> (nullSafeJoin _),
    "rel_grouping_sets" -> (groupingSets _),
    "rel_percentile_disc" -> (percentileDisc _),
    "rel_scd2_incremental" -> (scd2Incremental(_, _)),
    "rel_agg_incremental"  -> (aggIncremental(_, _)),
    "rel_observe_metrics"  -> (observeMetrics _),
    "rel_rolling_median" -> (rollingMedian _),
    "rel_scd2"        -> (scd2 _),
    "rel_cube"        -> (cubeAgg _),
    "rel_window_nav"  -> (windowNav _),
    "rel_explode"     -> (explodeTokens _),
    "rel_range_join"  -> (rangeJoin _),
    "rel_map_funcs"   -> (mapFuncs _),
    "rel_array_funcs" -> (arrayFuncs _),
    "rel_decimal_agg" -> (decimalAgg _),
    "rel_set_ops_bag" -> (setOpsBag _),
    "rel_null_semantics" -> (nullSemantics _),
    "rel_histogram"   -> (histogram _),
    "rel_quantiles"   -> (quantiles _),
    "rel_join_hinted" -> (joinHinted _),
    "rel_merge_upsert" -> (mergeUpsert _),
    "rel_merge_correlated" -> (mergeCorrelated _),
    "rel_variant_json" -> (variantJson _),
    "rel_try_funcs"    -> (tryFuncs _),
    "rel_interval_arith" -> (intervalArith _),
    "rel_unpivot"      -> (unpivotAgg _),
    "rel_cross_join"   -> (crossJoinDims _),
  )

  val oracle: Map[String, String] = Map(
    "rel_basket_lift" -> basketLiftSql,
    "rel_listagg" -> listAggSql,
    "rel_null_safe_join" -> nullSafeJoinSql,
    "rel_grouping_sets" -> groupingSetsSql,
    "rel_percentile_disc" -> percentileDiscSql,
    "rel_scd2_incremental" -> scd2IncrementalSql,
    "rel_agg_incremental"  -> aggIncrementalSql,
    "rel_observe_metrics"  -> observeMetricsSql,
    "rel_rolling_median" -> rollingMedianSql,
    "rel_scd2"        -> scd2Sql,
    "rel_cube"        -> cubeAggSql,
    "rel_window_nav"  -> windowNavSql,
    "rel_explode"     -> explodeTokensSql,
    "rel_range_join"  -> rangeJoinSql,
    "rel_map_funcs"   -> mapFuncsSql,
    "rel_array_funcs" -> arrayFuncsSql,
    "rel_decimal_agg" -> decimalAggSql,
    "rel_set_ops_bag" -> setOpsBagSql,
    "rel_null_semantics" -> nullSemanticsSql,
    "rel_histogram"   -> histogramSql,
    "rel_quantiles"   -> quantilesSql,
    "rel_join_hinted" -> joinHintedSql,
    "rel_merge_upsert" -> mergeUpsertSql,
    "rel_merge_correlated" -> mergeCorrelatedSql,
    "rel_variant_json" -> variantJsonSql,
    "rel_try_funcs"    -> tryFuncsSql,
    "rel_interval_arith" -> intervalArithSql,
    "rel_unpivot"      -> unpivotAggSql,
    "rel_cross_join"   -> crossJoinDimsSql,
  )
}
