package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.{Keys, Merge, Scd2, Snapshots}
import graft.warehouse.DimDate

/** Correctness-gate queries for the core operator library, each paired with
  * an equivalent DuckDB oracle over the same parquet tables.
  *
  * Every query ends in a deterministic ORDER BY on a unique key (mirrored
  * in the oracle) so the driver's hash compare is row-order stable, and
  * every computed column carries the same alias on both sides.
  */
object CoreGates {

  /** SCD2 merge (M1/M2 shape) on a synthetic dimension built from
    * `customer`: existing = custkeys not divisible by 3 (all current as of
    * 2026-01-01); incoming batch = even custkeys, with acctbal bumped for
    * multiples of 5 → keys in both sides where 10 | key are "changed".
    */
  def scd2Merge(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer")
    val existing = c.filter(col("c_custkey") % 3 =!= 0).select(
      col("c_custkey"), col("c_name"), col("c_acctbal"),
      lit("2026-01-01").cast("date").as("effective_date"),
      lit(null).cast("date").as("expiry_date"),
      lit(true).as("is_current"))
    val incoming = c.filter(col("c_custkey") % 2 === 0).select(
      col("c_custkey"), col("c_name"),
      when(col("c_custkey") % 5 === 0, col("c_acctbal") + 100)
        .otherwise(col("c_acctbal")).as("c_acctbal"))
    Scd2.merge(existing, incoming, Seq("c_custkey"), Seq("c_acctbal"),
        lit("2026-02-01"))
      .orderBy("c_custkey", "is_current", "effective_date")
  }

  val scd2MergeSql: String =
    """WITH existing AS (
      |  SELECT c_custkey, c_name, c_acctbal, DATE '2026-01-01' AS effective_date,
      |         CAST(NULL AS DATE) AS expiry_date, TRUE AS is_current
      |  FROM customer WHERE c_custkey % 3 <> 0),
      |incoming AS (
      |  SELECT c_custkey, c_name,
      |         CASE WHEN c_custkey % 5 = 0 THEN c_acctbal + 100 ELSE c_acctbal END AS c_acctbal
      |  FROM customer WHERE c_custkey % 2 = 0),
      |j AS (
      |  SELECT e.c_custkey AS ek, e.c_name AS en, e.c_acctbal AS ea,
      |         i.c_custkey AS ik, i.c_name AS inm, i.c_acctbal AS ia
      |  FROM existing e FULL OUTER JOIN incoming i ON e.c_custkey = i.c_custkey)
      |SELECT ek AS c_custkey, en AS c_name, ea AS c_acctbal,
      |       DATE '2026-01-01' AS effective_date, CAST(NULL AS DATE) AS expiry_date,
      |       TRUE AS is_current
      |FROM j WHERE ek IS NOT NULL AND (ik IS NULL OR ea IS NOT DISTINCT FROM ia)
      |UNION ALL
      |SELECT ek, en, ea, DATE '2026-01-01', DATE '2026-02-01', FALSE
      |FROM j WHERE ek IS NOT NULL AND ik IS NOT NULL AND ea IS DISTINCT FROM ia
      |UNION ALL
      |SELECT ik, inm, ia, DATE '2026-02-01', CAST(NULL AS DATE), TRUE
      |FROM j WHERE ik IS NOT NULL AND (ek IS NULL OR ea IS DISTINCT FROM ia)
      |ORDER BY c_custkey, is_current, effective_date""".stripMargin

  /** Carry-forward snapshot (M5) over two single-day `orders` slices:
    * today's rows ∪ yesterday's "unexpired" (totalprice < 300k) rows whose
    * custkey is absent today, restamped to today's date.
    */
  def carryForward(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val yesterday = o.filter(date_format(col("o_orderdate"), "yyyy-MM") === lit("1996-09"))
    val today     = o.filter(date_format(col("o_orderdate"), "yyyy-MM") === lit("1997-08"))
    Snapshots.carryForward(yesterday, today, Seq("o_custkey"),
        notExpired = col("o_totalprice") < 300000,
        restamp = Seq("o_orderdate" -> lit("1997-08-01").cast("timestamp")))
      .orderBy("o_orderkey")
  }

  val carryForwardSql: String =
    """WITH y AS (SELECT * FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1996-09'),
      |t AS (SELECT * FROM orders WHERE strftime(o_orderdate, '%Y-%m') = '1997-08')
      |SELECT * FROM t
      |UNION ALL
      |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
      |       TIMESTAMP '1997-08-01 00:00:00' AS o_orderdate, o_orderpriority
      |FROM y WHERE o_totalprice < 300000
      |  AND o_custkey NOT IN (SELECT o_custkey FROM t)
      |ORDER BY o_orderkey""".stripMargin

  /** Keyed upsert (S5/M8) on `supplier` with the 4-way
    * inserted/updated/unchanged/untouched classification.
    */
  def upsertMerge(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables(s, dir, "supplier")
    val existing = sup.filter(col("s_suppkey") % 2 === 0)
    val incoming = sup.filter(col("s_suppkey") % 3 === 0)
      .withColumn("s_acctbal",
        when(col("s_suppkey") % 5 === 0, col("s_acctbal") + 50).otherwise(col("s_acctbal")))
    Merge.upsert(existing, incoming, Seq("s_suppkey"),
        Seq("s_name", "s_nationkey", "s_acctbal"))
      .orderBy("s_suppkey")
  }

  val upsertMergeSql: String =
    """WITH e AS (SELECT * FROM supplier WHERE s_suppkey % 2 = 0),
      |i AS (SELECT s_suppkey, s_name, s_nationkey,
      |             CASE WHEN s_suppkey % 5 = 0 THEN s_acctbal + 50 ELSE s_acctbal END AS s_acctbal
      |      FROM supplier WHERE s_suppkey % 3 = 0),
      |j AS (
      |  SELECT e.s_suppkey AS ek, e.s_name AS en, e.s_nationkey AS enk, e.s_acctbal AS ea,
      |         i.s_suppkey AS ik, i.s_name AS inm, i.s_nationkey AS ink, i.s_acctbal AS ia,
      |         (e.s_suppkey IS NULL OR e.s_name IS DISTINCT FROM i.s_name
      |            OR e.s_nationkey IS DISTINCT FROM i.s_nationkey
      |            OR e.s_acctbal IS DISTINCT FROM i.s_acctbal) AS takes
      |  FROM e FULL OUTER JOIN i ON e.s_suppkey = i.s_suppkey)
      |SELECT COALESCE(ik, ek) AS s_suppkey,
      |       CASE WHEN ik IS NOT NULL AND takes THEN inm ELSE en END AS s_name,
      |       CASE WHEN ik IS NOT NULL AND takes THEN ink ELSE enk END AS s_nationkey,
      |       CASE WHEN ik IS NOT NULL AND takes THEN ia ELSE ea END AS s_acctbal,
      |       CASE WHEN ek IS NULL THEN 'inserted'
      |            WHEN ik IS NULL THEN 'untouched'
      |            WHEN takes THEN 'updated'
      |            ELSE 'unchanged' END AS merge_class
      |FROM j ORDER BY s_suppkey""".stripMargin

  /** Surrogate-key assignment (W2): sequence-like ids over the distinct
    * market segments, offset 100.
    */
  def skAssign(s: SparkSession, dir: String): DataFrame = {
    val segs = Tables(s, dir, "customer").select(col("c_mktsegment")).distinct()
    Keys.assignSorted(segs, Seq("c_mktsegment"), "sk", 100L).orderBy("c_mktsegment")
  }

  val skAssignSql: String =
    """SELECT c_mktsegment,
      |       CAST(100 + ROW_NUMBER() OVER (ORDER BY c_mktsegment) AS BIGINT) AS sk
      |FROM (SELECT DISTINCT c_mktsegment FROM customer)
      |ORDER BY c_mktsegment""".stripMargin

  /** Priority dedup (M6 rule / W1 duplicate-fact cleanup): keep the
    * smallest (l_linenumber, l_partkey) row per l_orderkey.
    */
  def dedupPriority(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    Snapshots.dedupByPriority(l, Seq("l_orderkey"),
        col("l_linenumber"), col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      .orderBy("l_orderkey")
  }

  val dedupPrioritySql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
      |       l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |                                   ORDER BY l_linenumber, l_partkey,
      |                                            l_suppkey, l_extendedprice) AS rn
      |      FROM lineitem)
      |WHERE rn = 1 ORDER BY l_orderkey""".stripMargin

  /** Date-dimension generation (M4) spanning orders.o_orderdate. */
  def dimDate(s: SparkSession, dir: String): DataFrame =
    DimDate.forSpan(Tables(s, dir, "orders"), col("o_orderdate")).orderBy("date_id")

  val dimDateSql: String =
    """WITH span AS (SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
      |                     CAST(MAX(o_orderdate) AS DATE) AS hi FROM orders),
      |d AS (SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
      |                                         CAST(hi AS TIMESTAMP),
      |                                         INTERVAL 1 DAY)) AS DATE) AS date_id
      |      FROM span)
      |SELECT date_id,
      |       CAST(day(date_id) AS BIGINT) AS day,
      |       CAST(month(date_id) AS BIGINT) AS month,
      |       CAST(quarter(date_id) AS BIGINT) AS quarter,
      |       CAST(year(date_id) AS BIGINT) AS year,
      |       CAST(weekofyear(date_id) AS BIGINT) AS week_of_year,
      |       CAST(isodow(date_id) AS BIGINT) AS day_of_week,
      |       dayname(date_id) AS weekday_name,
      |       isodow(date_id) >= 6 AS is_weekend,
      |       strftime(date_id, '%Y-%m') AS year_month,
      |       'Q' || CAST(quarter(date_id) AS VARCHAR) AS quarter_name
      |FROM d ORDER BY date_id""".stripMargin

  /** Hierarchical subtotals via ROLLUP (year → status → grand total) —
    * Spark's rollup relational operator against DuckDB's GROUP BY
    * ROLLUP. The grouping-indicator `gid` disambiguates a genuine NULL
    * group value from a subtotal row, and the ORDER BY pins NULLS FIRST
    * explicitly because DuckDB's ascending default is NULLS LAST where
    * Spark's is NULLS FIRST.
    */
  def factRollup(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders").select(
      year(col("o_orderdate")).as("yr"),
      col("o_orderstatus").as("status"), col("o_totalprice"))
    o.rollup(col("yr"), col("status"))
      .agg((grouping(col("yr")) * 2 + grouping(col("status"))).cast("int").as("gid"),
        count(lit(1)).as("n"),
        graft.Exact.dsum(col("o_totalprice")).as("total"))
      .select("yr", "status", "gid", "n", "total")
      .orderBy("gid", "yr", "status")
  }

  val factRollupSql: String =
    s"""WITH o AS (
       |  SELECT CAST(year(o_orderdate) AS INT) AS yr, o_orderstatus AS status,
       |         o_totalprice
       |  FROM orders)
       |SELECT yr, status,
       |       CAST(GROUPING(yr) * 2 + GROUPING(status) AS INT) AS gid,
       |       COUNT(*) AS n,
       |       ${graft.Exact.sqlSum("o_totalprice")} AS total
       |FROM o GROUP BY ROLLUP (yr, status)
       |ORDER BY gid, yr NULLS FIRST, status NULLS FIRST""".stripMargin

  /** Wide pivot: order counts per year × status, statuses as columns —
    * Spark's pivot with an EXPLICIT value list (the implicit form runs a
    * distinct-collect pre-pass on the driver; at warehouse scale the
    * value domain is declared, not discovered). The oracle is the
    * conditional-count restatement.
    */
  def pivotStatus(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "orders")
      .select(year(col("o_orderdate")).as("yr"), col("o_orderstatus"))
      .groupBy("yr").pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("F", "O", "P"))
      .orderBy("yr")

  val pivotStatusSql: String =
    """SELECT CAST(year(o_orderdate) AS INT) AS yr,
      |       COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS F,
      |       COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS O,
      |       COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS P
      |FROM orders GROUP BY 1 ORDER BY yr""".stripMargin

  /** [[graft.operators.Checksum.grouped]] over lineitem keyed by
    * l_returnflag: the order-independent multiset digest both engines
    * reproduce bit-for-bit from the same rows. The double price column
    * rides through an explicit decimal cast (raw Double→string rendering
    * is engine-specific and rejected by the operator).
    */
  def tableChecksum(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem").withColumn("price",
      col("l_extendedprice").cast("decimal(12,2)"))
    graft.operators.Checksum.grouped(l, Seq("l_returnflag"),
        Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
          "l_returnflag", "l_linestatus", "price"))
      .orderBy("l_returnflag")
  }

  val tableChecksumSql: String =
    """WITH f AS (
      |  SELECT l_returnflag,
      |    list_reduce([strpos('0123456789abcdef', substr(md5(
      |      concat_ws(chr(1),
      |        COALESCE(CAST(l_orderkey AS VARCHAR), chr(0)),
      |        COALESCE(CAST(l_partkey AS VARCHAR), chr(0)),
      |        COALESCE(CAST(l_suppkey AS VARCHAR), chr(0)),
      |        COALESCE(CAST(l_linenumber AS VARCHAR), chr(0)),
      |        COALESCE(CAST(l_returnflag AS VARCHAR), chr(0)),
      |        COALESCE(CAST(l_linestatus AS VARCHAR), chr(0)),
      |        COALESCE(CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS VARCHAR), chr(0)))
      |      ), j, 1)) - 1 for j in range(1, 16)],
      |      (a, x) -> a * 16 + x) AS fp
      |  FROM lineitem)
      |SELECT l_returnflag, COUNT(*) AS n_rows,
      |       CAST(SUM(fp) % 1000000000000000000 AS BIGINT) AS checksum
      |FROM f GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** [[graft.storage.Layout.interleaveBits]]: the Morton (z-order) key
    * over (l_partkey, l_suppkey) cells mod 256, per lineitem row — the
    * bit-interleave the z-ordered writer sorts on, restated in the
    * oracle as DuckDB bit arithmetic. Even output bits come from
    * partkey (column 0), odd bits from suppkey.
    */
  def zorderKey(s: SparkSession, dir: String): DataFrame = {
    val l = Tables(s, dir, "lineitem")
    l.select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_linenumber"),
        graft.storage.Layout.interleaveBits(
          Seq(pmod(col("l_partkey"), lit(256)),
            pmod(col("l_suppkey"), lit(256))), bits = 8).as("zkey"))
      .orderBy("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
  }

  val zorderKeySql: String =
    """SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
      |  list_reduce(
      |    [(((l_partkey % 256) >> j) & 1) * (1::BIGINT << (2 * j))
      |     + (((l_suppkey % 256) >> j) & 1) * (1::BIGINT << (2 * j + 1))
      |     for j in range(0, 8)],
      |    (a, b) -> a + b) AS zkey
      |FROM lineitem
      |ORDER BY l_orderkey, l_partkey, l_suppkey, l_linenumber""".stripMargin

  /** The ranking-window family in one gate: row_number / ntile over a
    * UNIQUE ordering (engine-deterministic by construction) and rank /
    * dense_rank / percent_rank / cume_dist over a TIED ordering (price
    * decile buckets), where peer-group semantics actually differ from
    * row numbering. Both engines compute percent_rank=(r-1)/(n-1) and
    * cume_dist=peers≤/n as double divisions of exact integers, so the
    * hash compare is bitwise-safe.
    */
  def windowRanks(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(s, dir, "orders").select(
      col("o_orderkey"), col("o_orderstatus"),
      floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
    val tied = Window.partitionBy("o_orderstatus")
      .orderBy(col("bucket").desc)
    val uniq = Window.partitionBy("o_orderstatus")
      .orderBy(col("bucket").desc, col("o_orderkey"))
    o.select(col("o_orderkey"), col("o_orderstatus"), col("bucket"),
        row_number().over(uniq).as("rn"),
        ntile(4).over(uniq).as("quartile"),
        rank().over(tied).as("rnk"),
        dense_rank().over(tied).as("drnk"),
        percent_rank().over(tied).as("prnk"),
        cume_dist().over(tied).as("cdist"))
      .orderBy("o_orderstatus", "o_orderkey")
  }

  val windowRanksSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_orderstatus,
      |         CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket
      |  FROM orders)
      |SELECT o_orderkey, o_orderstatus, bucket,
      |  CAST(row_number() OVER uniq AS INT) AS rn,
      |  CAST(ntile(4) OVER uniq AS INT) AS quartile,
      |  CAST(rank() OVER tied AS INT) AS rnk,
      |  CAST(dense_rank() OVER tied AS INT) AS drnk,
      |  percent_rank() OVER tied AS prnk,
      |  cume_dist() OVER tied AS cdist
      |FROM o
      |WINDOW tied AS (PARTITION BY o_orderstatus ORDER BY bucket DESC),
      |       uniq AS (PARTITION BY o_orderstatus ORDER BY bucket DESC, o_orderkey)
      |ORDER BY o_orderstatus, o_orderkey""".stripMargin

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM as the join
    * key): a nulled dimension key still matches its null group instead
    * of silently dropping — the semantics a plain equi-join can't
    * express. Left = customers with every 7th segment nulled; right =
    * the per-segment (incl. the null segment) member counts of that
    * same relation, so every left row matches exactly one right row.
    */
  def nullSafeJoin(s: SparkSession, dir: String): DataFrame = {
    val c = Tables(s, dir, "customer").select(col("c_custkey"),
      when(col("c_custkey") % 7 === 0, lit(null).cast("string"))
        .otherwise(col("c_mktsegment")).as("seg"))
    val segStats = c.groupBy(col("seg").as("r_seg"))
      .agg(count(lit(1)).as("seg_n"))
    c.join(segStats, col("seg") <=> col("r_seg"), "inner")
      .select("c_custkey", "seg", "seg_n")
      .orderBy("c_custkey")
  }

  val nullSafeJoinSql: String =
    """WITH c AS (
      |  SELECT c_custkey,
      |         CASE WHEN c_custkey % 7 = 0 THEN NULL ELSE c_mktsegment END AS seg
      |  FROM customer),
      |st AS (SELECT seg AS r_seg, COUNT(*) AS seg_n FROM c GROUP BY 1)
      |SELECT c.c_custkey, c.seg, st.seg_n
      |FROM c JOIN st ON c.seg IS NOT DISTINCT FROM st.r_seg
      |ORDER BY c.c_custkey""".stripMargin

  /** [[graft.analytics.Profile.equiWidthHistogram]] over order totals:
    * 20 equi-width buckets, identical IEEE arithmetic restated in the
    * oracle with the same parenthesization.
    */
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.equiWidthHistogram(
        Tables(s, dir, "orders"), "o_totalprice", buckets = 20)
      .orderBy("bucket")

  val valueHistogramSql: String =
    """WITH b AS (
      |  SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders)
      |SELECT CAST(least(floor(((o_totalprice - lo) / (hi - lo)) * 20), 19) AS INT)
      |         AS bucket,
      |       COUNT(*) AS n
      |FROM orders, b
      |WHERE o_totalprice IS NOT NULL
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Multiset set operations — `intersectAll` / `exceptAll` keep
    * DUPLICATE multiplicity (min / left-minus-right per key), which the
    * distinct forms destroy; the surviving multiplicities are counted
    * per key so the gate output is deterministic. Spark plans both as
    * aggregate-rewrites, not joins.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val a = o.filter(col("o_orderkey") % 2 === 0).select("o_custkey")
    val b = o.filter(col("o_orderkey") % 3 === 0).select("o_custkey")
    val inter = a.intersectAll(b).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_inter"))
    val exc = a.exceptAll(b).groupBy("o_custkey")
      .agg(count(lit(1)).as("n_except"))
    inter.join(exc, Seq("o_custkey"), "full_outer")
      .select(col("o_custkey"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_except"), lit(0L)).as("n_except"))
      .orderBy("o_custkey")
  }

  val setOpsSql: String =
    """WITH a AS (SELECT o_custkey FROM orders WHERE o_orderkey % 2 = 0),
      |b AS (SELECT o_custkey FROM orders WHERE o_orderkey % 3 = 0),
      |i AS (SELECT o_custkey, COUNT(*) AS n_inter
      |      FROM (SELECT * FROM a INTERSECT ALL SELECT * FROM b) GROUP BY 1),
      |e AS (SELECT o_custkey, COUNT(*) AS n_except
      |      FROM (SELECT * FROM a EXCEPT ALL SELECT * FROM b) GROUP BY 1)
      |SELECT COALESCE(i.o_custkey, e.o_custkey) AS o_custkey,
      |       COALESCE(n_inter, 0) AS n_inter,
      |       COALESCE(n_except, 0) AS n_except
      |FROM i FULL OUTER JOIN e ON i.o_custkey = e.o_custkey
      |ORDER BY o_custkey""".stripMargin

  /** Top-3-per-group — the general-k form of the keep-one dedup: the
    * `row_number() <= k` filter WITHOUT the rank in the output lets
    * Spark's InferWindowGroupLimit insert a map-side partial group
    * limit below the shuffle (each task ships ≤ k rows per key, the
    * window analogue of map-side combine — plan-pinned at k=3 in
    * PlanAuditSpec). The oracle uses the same subquery-filter shape.
    */
  def topkPerGroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    o.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= 3)
      .drop("__rn")
      .orderBy(col("o_custkey"), col("o_totalprice").desc, col("o_orderkey"))
  }

  val topkPerGroupSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM (
      |  SELECT o_orderkey, o_custkey, o_totalprice,
      |         ROW_NUMBER() OVER (PARTITION BY o_custkey
      |           ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders)
      |WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice DESC, o_orderkey""".stripMargin

  /** [[graft.analytics.Profile.keySkew]] over lineitem supplier keys:
    * the top-10 heaviest keys with share-of-rows and ratio-to-mean-load
    * — the "will this key melt a task" diagnostic. Ratios are single
    * IEEE divisions of exact integers with the same parenthesization in
    * the oracle.
    */
  /** [[graft.analytics.Profile.zScoreOutliers]] on order totals per
    * priority at z = 2. The oracle rebuilds the exact-decimal moment
    * sums with the same quantization (x and x·x each cast to decimal
    * once, summed exactly) and the same fixed double expression order —
    * so mean, std, and the per-row outlier comparison are bitwise.
    */
  def outlierZscore(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.zScoreOutliers(
        Tables(s, dir, "orders"), Seq("o_orderpriority"), "o_totalprice")
      .orderBy("o_orderpriority")

  val outlierZscoreSql: String =
    """WITH r AS (
      |  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS x
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |s AS (
      |  SELECT o_orderpriority,
      |    CAST(count(*) AS BIGINT) AS n,
      |    sum(CAST(x AS DECIMAL(12,2))) AS sx,
      |    sum(CAST(x AS DECIMAL(12,2)) * CAST(x AS DECIMAL(12,2))) AS sx2
      |  FROM r GROUP BY o_orderpriority),
      |m AS (
      |  -- decimal -> double via VARCHAR: DuckDB's direct wide-decimal
      |  -- cast is not correctly rounded (off by ulps on int128-backed
      |  -- sums); the string round-trip is, matching the JVM's
      |  -- BigDecimal.doubleValue on the Spark side
      |  SELECT o_orderpriority, n,
      |    CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
      |    sqrt(greatest(
      |      CAST(CAST(sx2 AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE) -
      |      (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)) *
      |      (CAST(CAST(sx AS VARCHAR) AS DOUBLE) / CAST(n AS DOUBLE)),
      |      0.0)) AS std
      |  FROM s)
      |SELECT r.o_orderpriority, n, mean, std,
      |  CAST(sum(CASE WHEN abs(x - mean) > 2.0 * std THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_outliers
      |FROM r JOIN m ON r.o_orderpriority = m.o_orderpriority
      |GROUP BY r.o_orderpriority, n, mean, std
      |ORDER BY r.o_orderpriority""".stripMargin

  /** [[graft.analytics.Profile.minMaxScale]] on lineitem quantity and
    * extended price: one bounded min/max row, then the narrow
    * `(x − lo) / (hi − lo)` projection — the oracle restates the same
    * parenthesization, so the scaled doubles are bitwise. Ordered by
    * the full unique lineitem key (the (orderkey, linenumber) pair is
    * NOT unique in the synthetic data).
    */
  def featureScale(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.minMaxScale(
        Tables(s, dir, "lineitem"), Seq("l_quantity", "l_extendedprice"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_quantity_scaled"), col("l_extendedprice_scaled"))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_extendedprice")

  val featureScaleSql: String =
    """WITH s AS (
      |  SELECT min(CAST(l_quantity AS DOUBLE)) AS qlo,
      |         max(CAST(l_quantity AS DOUBLE)) AS qhi,
      |         min(CAST(l_extendedprice AS DOUBLE)) AS elo,
      |         max(CAST(l_extendedprice AS DOUBLE)) AS ehi
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  l_quantity, l_extendedprice,
      |  (CAST(l_quantity AS DOUBLE) - qlo) / (qhi - qlo)
      |    AS l_quantity_scaled,
      |  (CAST(l_extendedprice AS DOUBLE) - elo) / (ehi - elo)
      |    AS l_extendedprice_scaled
      |FROM lineitem, s
      |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
      |  l_extendedprice""".stripMargin

  /** [[graft.operators.Cdc.applyChanges]]: a change log synthesized
    * from orders (op keyed off o_orderkey: every 11th a delete, evens
    * updates, rest inserts; o_custkey the business key, o_orderkey the
    * total tiebreak) collapsed to final state — last writer wins,
    * deletes erase the key. Oracle restates the rank-1 window.
    */
  def cdcApply(s: SparkSession, dir: String): DataFrame = {
    val o = Tables(s, dir, "orders")
    val log = o.select(
      col("o_custkey").as("key"),
      col("o_orderdate").as("ts"),
      col("o_orderkey").as("seq"),
      when(col("o_orderkey") % 11 === 0, lit("D"))
        .when(col("o_orderkey") % 2 === 0, lit("U"))
        .otherwise(lit("I")).as("op"),
      col("o_totalprice").as("amount"),
      col("o_orderstatus").as("status"))
    graft.operators.Cdc.applyChanges(log, Seq("key"), "ts", "op",
        tieCols = Seq("seq"))
      .orderBy("key")
  }

  val cdcApplySql: String =
    """WITH log AS (
      |  SELECT o_custkey AS key, o_orderdate AS ts, o_orderkey AS seq,
      |    CASE WHEN o_orderkey % 11 = 0 THEN 'D'
      |         WHEN o_orderkey % 2 = 0 THEN 'U' ELSE 'I' END AS op,
      |    o_totalprice AS amount, o_orderstatus AS status
      |  FROM orders),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY key
      |        ORDER BY ts DESC, seq DESC) AS rn FROM log)
      |SELECT key, ts, seq, amount, status
      |FROM r WHERE rn = 1 AND op <> 'D'
      |ORDER BY key""".stripMargin

  /** [[graft.operators.IncrementalAgg]]: per-customer order rollup
    * maintained INCREMENTALLY — state from the pre-2000 history, state
    * from the 2000+ slice, merged and finished. The oracle computes the
    * same rollup from scratch over ALL orders, so the gate is green only
    * if merge(state(A), state(B)) ≡ state(A ∪ B) — the algebraic
    * identity the decimal sums exist to guarantee.
    */
  def rollupIncremental(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.IncrementalAgg
    val o = Tables(s, dir, "orders")
    val spec = IncrementalAgg.Spec(
      sumCols = Seq("o_totalprice"),
      minCols = Seq("o_orderdate"), maxCols = Seq("o_orderdate"),
      avgOf = Seq("o_totalprice"))
    val cut = lit("2000-01-01").cast("timestamp")
    val keys = Seq("o_custkey")
    val base = IncrementalAgg.state(o.filter(col("o_orderdate") < cut), keys, spec)
    val delta = IncrementalAgg.state(o.filter(col("o_orderdate") >= cut), keys, spec)
    IncrementalAgg.finish(IncrementalAgg.merge(Seq(base, delta), keys, spec),
        keys, spec)
      .orderBy("o_custkey")
  }

  val rollupIncrementalSql: String =
    s"""SELECT o_custkey, CAST(count(*) AS BIGINT) AS cnt,
       |  ${graft.Exact.sqlSum("o_totalprice")} AS sum_o_totalprice,
       |  min(o_orderdate) AS min_o_orderdate,
       |  max(o_orderdate) AS max_o_orderdate,
       |  ${graft.Exact.sqlSum("o_totalprice")} / COUNT(*) AS avg_o_totalprice
       |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  /** [[graft.analytics.Profile.tableStats]] in exact mode over the
    * documents table — the oracle restates each column's row as a
    * UNION ALL branch. The approx (HLL) production mode is
    * spec-checked against this exact mode instead (not SQL-restatable).
    */
  def profileTable(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.tableStats(
        Tables(s, dir, "documents"),
        Seq("doc_id", "lang", "n_chars", "source", "text"), exact = true)
      .orderBy("col_name")

  val profileTableSql: String = {
    def branch(c: String): String =
      s"""SELECT '$c' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS ndv,
         |  CAST(MIN($c) AS VARCHAR) AS min_value,
         |  CAST(MAX($c) AS VARCHAR) AS max_value
         |FROM documents""".stripMargin
    Seq("doc_id", "lang", "n_chars", "source", "text").map(branch)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** [[graft.analytics.Profile.groupQuantilesDisc]]: nearest-rank
    * p25/p50/p75/p90 of event value per type. Discrete quantiles are
    * element SELECTION (no interpolation arithmetic), so the oracle's
    * restated rank windows return byte-identical doubles.
    */
  def groupQuantiles(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.groupQuantilesDisc(
        Tables(s, dir, "events"), Seq("event_type"), "value",
        Seq(25, 50, 75, 90))
      .orderBy("event_type")

  val groupQuantilesSql: String = {
    def p(pct: Int) =
      s"MAX(CASE WHEN rn = (n * $pct + 99) // 100 THEN value END) AS p$pct"
    s"""WITH r AS (
       |  SELECT event_type, value,
       |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
       |    COUNT(*) OVER (PARTITION BY event_type) AS n
       |  FROM events WHERE value IS NOT NULL)
       |SELECT event_type, ${p(25)}, ${p(50)}, ${p(75)}, ${p(90)}
       |FROM r GROUP BY event_type
       |ORDER BY event_type NULLS FIRST""".stripMargin
  }

  /** [[graft.analytics.Profile.robustScale]]: per-type median/IQR
    * scaling of event values — the oracle restates the same discrete
    * quantiles and the identical `(x − p50) / (p75 − p25)`
    * parenthesization (each step one exactly-rounded IEEE op).
    */
  def featureRobust(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.robustScale(
        Tables(s, dir, "events").select(
          col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value")
      .select(col("event_id"), col("value_robust"))
      .orderBy("event_id")

  val featureRobustSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL),
      |q AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n * 25 + 99) // 100 THEN value END) AS p25,
      |    MAX(CASE WHEN rn = (n * 50 + 99) // 100 THEN value END) AS p50,
      |    MAX(CASE WHEN rn = (n * 75 + 99) // 100 THEN value END) AS p75
      |  FROM r GROUP BY event_type)
      |SELECT e.event_id,
      |  CASE WHEN e.value IS NULL THEN NULL
      |       WHEN q.p75 = q.p25 THEN 0.0
      |       ELSE (e.value - q.p50) / (q.p75 - q.p25) END AS value_robust
      |-- null-SAFE join: the Spark side matches a null-type segment to
      |-- its own quantiles via <=>; a bare = would diverge on null keys
      |FROM events e LEFT JOIN q
      |  ON e.event_type IS NOT DISTINCT FROM q.event_type
      |ORDER BY e.event_id""".stripMargin

  /** [[graft.analytics.Profile.winsorize]]: event values clamped into
    * their type's [p5, p95] band. The oracle restates the discrete
    * quantiles and the identical least/greatest clamp.
    */
  def featureWinsorize(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.winsorize(
        Tables(s, dir, "events").select(
          col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value")
      .select(col("event_id"), col("value_wins"))
      .orderBy("event_id")

  val featureWinsorizeSql: String =
    """WITH r AS (
      |  SELECT event_type, value,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL),
      |q AS (
      |  SELECT event_type,
      |    MAX(CASE WHEN rn = (n * 5 + 99) // 100 THEN value END) AS p5,
      |    MAX(CASE WHEN rn = (n * 95 + 99) // 100 THEN value END) AS p95
      |  FROM r GROUP BY event_type)
      |SELECT e.event_id,
      |  CASE WHEN e.value IS NULL THEN NULL
      |       ELSE least(greatest(e.value, q.p5), q.p95) END AS value_wins
      |FROM events e LEFT JOIN q
      |  ON e.event_type IS NOT DISTINCT FROM q.event_type
      |ORDER BY e.event_id""".stripMargin

  /** [[graft.analytics.Profile.rankNormalize]]: percent rank of event
    * value within its type — the oracle restates the identical rank
    * and count windows and the one IEEE division.
    */
  def featureRank(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.rankNormalize(
        Tables(s, dir, "events").select(
          col("event_id"), col("event_type"), col("value")),
        Seq("event_type"), "value", tieCols = Seq("event_id"))
      .select(col("event_id"), col("value_pctrank"))
      .orderBy("event_id")

  val featureRankSql: String =
    """WITH r AS (
      |  SELECT event_id,
      |    ROW_NUMBER() OVER (PARTITION BY event_type
      |      ORDER BY value, event_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS n
      |  FROM events WHERE value IS NOT NULL)
      |SELECT event_id,
      |  CASE WHEN n = 1 THEN 0.0
      |       ELSE CAST(rn - 1 AS DOUBLE) / (n - 1) END AS value_pctrank
      |FROM r ORDER BY event_id""".stripMargin

  def keySkew(s: SparkSession, dir: String): DataFrame =
    graft.analytics.Profile.keySkew(
      Tables(s, dir, "lineitem"), Seq("l_suppkey"), k = 10)

  val keySkewSql: String =
    """WITH c AS (SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1),
      |t AS (SELECT SUM(n) AS total, COUNT(*) AS groups FROM c)
      |SELECT l_suppkey, n,
      |       CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
      |       CAST(n AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(groups AS DOUBLE))
      |         AS skew_vs_avg
      |FROM c, t ORDER BY n DESC, l_suppkey LIMIT 10""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "scd2_merge"     -> (scd2Merge _),
    "carry_forward"  -> (carryForward _),
    "upsert_merge"   -> (upsertMerge _),
    "sk_assign"      -> (skAssign _),
    "dedup_priority" -> (dedupPriority _),
    "dim_date"       -> (dimDate _),
    "fact_rollup"    -> (factRollup _),
    "pivot_status"   -> (pivotStatus _),
    "table_checksum" -> (tableChecksum _),
    "zorder_key"     -> (zorderKey _),
    "window_ranks"   -> (windowRanks _),
    "null_safe_join" -> (nullSafeJoin _),
    "value_histogram" -> (valueHistogram _),
    "set_ops"        -> (setOps _),
    "topk_per_group" -> (topkPerGroup _),
    "key_skew"       -> (keySkew _),
    "outlier_zscore" -> (outlierZscore _),
    "feature_scale"  -> (featureScale _),
    "cdc_apply"      -> (cdcApply _),
    "rollup_incremental" -> (rollupIncremental _),
    "profile_table"  -> (profileTable _),
    "group_quantiles" -> (groupQuantiles _),
    "feature_robust" -> (featureRobust _),
    "feature_winsorize" -> (featureWinsorize _),
    "feature_rank"   -> (featureRank _))

  val oracleSql: Map[String, String] = Map(
    "scd2_merge"     -> scd2MergeSql,
    "carry_forward"  -> carryForwardSql,
    "upsert_merge"   -> upsertMergeSql,
    "sk_assign"      -> skAssignSql,
    "dedup_priority" -> dedupPrioritySql,
    "dim_date"       -> dimDateSql,
    "fact_rollup"    -> factRollupSql,
    "pivot_status"   -> pivotStatusSql,
    "table_checksum" -> tableChecksumSql,
    "zorder_key"     -> zorderKeySql,
    "window_ranks"   -> windowRanksSql,
    "null_safe_join" -> nullSafeJoinSql,
    "value_histogram" -> valueHistogramSql,
    "set_ops"        -> setOpsSql,
    "topk_per_group" -> topkPerGroupSql,
    "key_skew"       -> keySkewSql,
    "outlier_zscore" -> outlierZscoreSql,
    "feature_scale"  -> featureScaleSql,
    "cdc_apply"      -> cdcApplySql,
    "rollup_incremental" -> rollupIncrementalSql,
    "profile_table"  -> profileTableSql,
    "group_quantiles" -> groupQuantilesSql,
    "feature_robust" -> featureRobustSql,
    "feature_winsorize" -> featureWinsorizeSql,
    "feature_rank"   -> featureRankSql)
}
