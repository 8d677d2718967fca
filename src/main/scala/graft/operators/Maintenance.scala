package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Det, DetSql, Tables}

/** Table-maintenance operators — the modern extensions of the
  * reference's data-management charter (its one shipped tool is a
  * small-file compactor, DefragmentAvroFolder.scala; these are the
  * next two utilities a DBA of 100 TB parquet tables reaches for):
  * multi-dimensional file clustering (z-order) and optimizer-stats
  * collection (ANALYZE).
  */
object Maintenance {

  /** Z-value bit math shared by both engines, rendered per dialect:
    * interleave the low 8 bits of x (even positions) and y (odd
    * positions) into one 16-bit key. Pure integer DIV/%/× — identical
    * arithmetic in Spark (`DIV`) and DuckDB (`//`). Inputs must
    * already be quantized to [0, 256): interleaving RAW values whose
    * domains differ in magnitude degenerates the curve into a
    * single-key sort (the wider domain owns every significant bit). */
  private[graft] def zFormula(x: String, y: String, intDiv: String): String =
    (0 until 8).map { k =>
      val p = 1L << k
      s"((($x) $intDiv $p) % 2) * ${1L << (2 * k)} + " +
        s"((($y) $intDiv $p) % 2) * ${1L << (2 * k + 1)}"
    }.mkString(" + ")

  /** N-dimensional bit interleave (r13 — the table format's ZORDER BY
    * grew past 2 columns): bit k of dimension j lands at position
    * k·n + j, so `zFormulaN(Seq(x, y), _)` computes EXACTLY
    * [[zFormula]]'s 16-bit value (layouts and oracles stay stable)
    * and wider arities round-robin the same 8-bit quantization into
    * an 8n-bit z-value. Pure integer SQL — deterministic across
    * engines and retries, like the 2-D form. */
  private[graft] def zFormulaN(qs: Seq[String], intDiv: String): String =
    (0 until 8).flatMap { k =>
      qs.zipWithIndex.map { case (q, j) =>
        s"((($q) $intDiv ${1L << k}) % 2) * ${1L << (k * qs.size + j)}"
      }
    }.mkString(" + ")

  /** Z-order layout planning: cluster orders on (custkey, orderdate)
    * by interleaved-bit z-value, cut into 5000-row files, and report
    * each file's min/max on BOTH dimensions — the row-group skipping
    * stats a scan's predicate pushdown reads. A linear sort on one key
    * gives narrow ranges on that key only; the z-curve keeps ranges
    * narrow on both, so 2-d predicates (customer AND date window) skip
    * most files. This is Delta/Iceberg `OPTIMIZE ZORDER BY` re-derived
    * on the open compactor surface. Each dimension is first quantized
    * to 256 buckets over its own min/max (one tiny broadcast bounds
    * row) — the normalization production z-ordering does with
    * range-partition ids, and the step that keeps the curve balanced
    * when dimension domains differ by orders of magnitude
    * (MaintenanceSpec measures the per-file span win over a
    * single-key sort).
    *
    * Scale shape: at production the file cut is
    * `repartitionByRange(col("zval"))` + write (range exchange,
    * fully parallel, no global window); the row_number here exists
    * only because the oracle must assign the same deterministic
    * file_id in both engines. The z-value itself is a pure per-row
    * projection either way. */
  def layoutZorder(spark: SparkSession, dir: String): DataFrame =
    layoutZorder(spark, dir, rowsPerFile = 5000)

  private[graft] def layoutZorder(spark: SparkSession, dir: String,
                                  rowsPerFile: Int): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_day"),
        expr("datediff(CAST(o_orderdate AS DATE), DATE '1992-01-01')").as("dayn"))
    val bounds = o.agg(min(col("o_custkey")).as("min_c"),
      max(col("o_custkey")).as("max_c"),
      min(col("dayn")).as("min_d"), max(col("dayn")).as("max_d"))
    val w = Window.orderBy(col("zval"), col("o_orderkey"))
    o.crossJoin(broadcast(bounds))
      // explicit BIGINT before the ×256: the quantization must not
      // depend on the column's physical width (a 32-bit key column
      // would overflow the multiply before the DIV)
      .withColumn("xn",
        expr("((CAST(o_custkey AS BIGINT) - min_c) * 256) DIV (max_c - min_c + 1)"))
      .withColumn("yn",
        expr("((CAST(dayn AS BIGINT) - min_d) * 256) DIV (max_d - min_d + 1)"))
      .withColumn("zval", expr(zFormula("xn", "yn", "DIV")))
      .withColumn("rn", row_number().over(w))
      .select(col("o_custkey"), col("o_day"), col("zval"),
        expr(s"(rn - 1) DIV $rowsPerFile").as("file_id"))
      .groupBy(col("file_id"))
      .agg(count(lit(1)).as("n_rows"),
        min(col("o_custkey")).as("min_cust"),
        max(col("o_custkey")).as("max_cust"),
        min(col("o_day")).as("min_day"),
        max(col("o_day")).as("max_day"),
        min(col("zval")).as("min_z"),
        max(col("zval")).as("max_z"))
      .orderBy(col("file_id"))
  }

  val layoutZorderSql: String =
    s"""WITH o AS (
       |  SELECT o_orderkey, o_custkey,
       |    CAST(o_orderdate AS DATE) AS o_day,
       |    date_diff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS dayn
       |  FROM orders),
       |b AS (
       |  SELECT MIN(o_custkey) AS min_c, MAX(o_custkey) AS max_c,
       |         MIN(dayn) AS min_d, MAX(dayn) AS max_d
       |  FROM o),
       |q AS (
       |  SELECT o_orderkey, o_custkey, o_day,
       |    ((CAST(o_custkey AS BIGINT) - min_c) * 256) // (max_c - min_c + 1) AS xn,
       |    ((CAST(dayn AS BIGINT) - min_d) * 256) // (max_d - min_d + 1) AS yn
       |  FROM o CROSS JOIN b),
       |z AS (
       |  SELECT o_orderkey, o_custkey, o_day,
       |    ${zFormula("xn", "yn", "//")} AS zval
       |  FROM q),
       |cut AS (
       |  SELECT o_custkey, o_day, zval,
       |    (ROW_NUMBER() OVER (ORDER BY zval, o_orderkey) - 1) // 5000 AS file_id
       |  FROM z)
       |SELECT file_id, COUNT(*) AS n_rows,
       |  MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
       |  MIN(o_day) AS min_day, MAX(o_day) AS max_day,
       |  MIN(zval) AS min_z, MAX(zval) AS max_z
       |FROM cut
       |GROUP BY file_id
       |ORDER BY file_id""".stripMargin

  /** ANALYZE-style statistics collection over lineitem's numeric
    * columns: row count, null count, exact NDV, min/max — the stats a
    * cost-based optimizer feeds on, one output row per column. One
    * independent single-COLUMN aggregate per stat row, unioned: each
    * branch's parquet scan reads exactly one column (pruned,
    * vectorized) and dedups map-side. Measured 5× faster at sf0.1
    * than the one-scan multi-count-distinct alternative, whose Expand
    * pushes |cols| copies of every row through the aggregate — column
    * pruning makes scans cheap enough that re-scanning one column per
    * stat beats expanding the whole table. At 100 TB the same plan
    * runs with `approx_count_distinct` for NDV (sketch-mergeable),
    * and the branches share nothing, so they schedule concurrently. */
  def tableStats(spark: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax")
    cols.map { c =>
      Tables.lineitem(spark, dir)
        .select(col(c))
        .agg(count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_null"),
          countDistinct(col(c)).as("ndv"),
          min(col(c)).cast("double").as("min_val"),
          max(col(c)).cast("double").as("max_val"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_null"),
          col("ndv"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
      .orderBy(col("col_name"))
  }

  val tableStatsSql: String = {
    val cols = Seq("l_orderkey", "l_quantity", "l_extendedprice",
      "l_discount", "l_tax")
    cols.map { c =>
      s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
         |  COUNT(*) - COUNT($c) AS n_null,
         |  COUNT(DISTINCT $c) AS ndv,
         |  CAST(MIN($c) AS DOUBLE) AS min_val,
         |  CAST(MAX($c) AS DOUBLE) AS max_val
         |FROM lineitem""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** Join-key skew diagnostic — the "will this key shuffle-join
    * safely" report run before picking a strategy for a 100 TB join:
    * per-key row counts histogrammed into power-of-two buckets, with
    * each bucket's key count, row volume, share of the table, and the
    * largest key it contains. Two aggregates (key count → bucket
    * roll-up), both map-side combined; the bucket frame is ≤64 rows so
    * the share window is driver-cheap. floor(log2) is boundary-safe
    * cross-engine: log2 is exact at powers of two and elsewhere sits
    * ≥ 1/(cnt·ln2) from an integer — astronomically wider than a
    * double ulp for any feasible per-key count. */
  def tableSkew(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy() // ≤64 bucket rows
    Tables.orders(spark, dir)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      .select(floor(log2(col("cnt"))).cast("long").as("bucket"), col("cnt"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
        max(col("cnt")).as("max_cnt"))
      .withColumn("pct_rows",
        col("n_rows").cast("double") / sum(col("n_rows")).over(w).cast("double"))
      .select(col("bucket"), col("n_keys"), col("n_rows"), col("max_cnt"),
        col("pct_rows"))
      .orderBy(col("bucket"))
  }

  val tableSkewSql: String =
    """WITH c AS (
      |  SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY o_custkey),
      |b AS (
      |  SELECT CAST(FLOOR(LOG2(cnt)) AS BIGINT) AS bucket,
      |    COUNT(*) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |    MAX(cnt) AS max_cnt
      |  FROM c GROUP BY 1)
      |SELECT bucket, n_keys, n_rows, max_cnt,
      |  CAST(n_rows AS DOUBLE) / CAST(SUM(n_rows) OVER () AS DOUBLE) AS pct_rows
      |FROM b
      |ORDER BY bucket""".stripMargin

  /** Dynamic partition overwrite — the INSERT OVERWRITE semantics a
    * partitioned 100 TB table needs (rewrite only the partitions the
    * batch touches, leave the rest untouched): stage orders partitioned
    * by status, overwrite ONLY the 'F' partition with discounted
    * prices under `partitionOverwriteMode=dynamic`, read the whole
    * table back and aggregate per partition. The oracle emulates the
    * partial rewrite with a CASE on the source — equality proves the
    * other partitions survived the overwrite byte-for-byte (a STATIC
    * overwrite would have truncated them to zero rows and fail the
    * compare). Fresh staging per run: the query IS the write path
    * under test, so reusing a fixture would prove nothing.
    *
    * Both writes repartition on the partition column first — one
    * writer task per dynamic partition, the standard cure for the
    * small-files problem: without it every shuffle task holds an open
    * writer per partition value it sees (tasks × partitions files,
    * memory-hungry and commit-heavy); with it, file count tracks
    * partition count, which bounds the commit/list path to 3 files. */
  def writeDynamicOverwrite(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files
      .createTempDirectory("graft_dynover").toString
    try {
      val t = s"$base/orders"
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      o.repartition(col("o_orderstatus"))
        .write.partitionBy("o_orderstatus").parquet(t)
      val patch = o.where(col("o_orderstatus") === "F")
        .select(col("o_orderkey"),
          (Det.cents(col("o_totalprice")) - lit(500L)).cast("double")
            .divide(lit(100.0)).as("o_totalprice"),
          col("o_orderstatus"))
      patch.repartition(col("o_orderstatus"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("o_orderstatus").parquet(t)
      val out = spark.read.parquet(t)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), Det.dsum(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus"))
        .collect()
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(
        out.toSeq.asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderstatus STRING, n BIGINT, sum_price DOUBLE"))
    } finally {
      // a failed write/read must not orphan an sf-sized orders copy in
      // /tmp across repeated Verify/Bench runs
      new graft.compact.FsOps(spark.sparkContext.hadoopConfiguration)
        .delete(base)
    }
  }

  val writeDynamicOverwriteSql: String =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       |  ${DetSql.dsum(
      "CASE WHEN o_orderstatus = 'F' " +
        s"THEN CAST(${DetSql.cents("o_totalprice")} - 500 AS DOUBLE) / 100.0 " +
        "ELSE o_totalprice END")} AS sum_price
       |FROM orders
       |GROUP BY o_orderstatus
       |ORDER BY o_orderstatus""".stripMargin

  /** Data-quality constraint audit — the CHECK/FK/UNIQUE validation
    * report a warehouse runs before publishing a table (Deequ-style
    * declarative checks re-derived on the open surface): seven
    * constraints over orders/customer, each reported as (checked,
    * violations, pass). not-null, uniqueness, referential integrity,
    * a positivity check, a value domain, a date range, and a
    * non-negative balance rule — the fixture data genuinely violates
    * the last two, so the report proves detection, not just assent.
    *
    * Scale shape: ALL row-level checks on a table ride ONE
    * conditional-aggregation pass (not a scan per constraint — at
    * 100 TB that difference is the whole game); uniqueness shares the
    * same pass as a two-stage count-distinct; referential integrity is
    * the one genuinely relational check and plans as a key-shuffled
    * anti join (broadcast when the dim side is small, as here). The
    * report assembly is three 1-row frames crossJoined and stacked —
    * driver-free, so the audit composes into any pipeline. */
  def dqConstraints(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val oAgg = o.agg(
      count(lit(1)).as("o_n"),
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)).as("v_nullkey"),
      countDistinct(col("o_orderkey")).as("o_ndv"),
      sum(when(col("o_totalprice") > 0.0, 0L).otherwise(1L)).as("v_price"),
      sum(when(col("o_orderstatus").isin("F", "O", "P"), 0L).otherwise(1L))
        .as("v_status"),
      sum(when(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("2001-01-01").cast("timestamp"), 0L)
        .otherwise(1L)).as("v_date"))
    val oOrphan = o.select(col("o_custkey"))
      .join(c.select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("v_orphan"))
    val cAgg = c.agg(count(lit(1)).as("c_n"),
      sum(when(col("c_acctbal") >= 0.0, 0L).otherwise(1L)).as("v_bal"))
    oAgg.crossJoin(broadcast(oOrphan)).crossJoin(broadcast(cAgg))
      .select(expr(
        """stack(7,
          |  'orders.o_orderkey.not_null',    'orders',   o_n, v_nullkey,
          |  'orders.o_orderkey.unique',      'orders',   o_n, o_n - o_ndv,
          |  'orders.o_custkey.ref_customer', 'orders',   o_n, v_orphan,
          |  'orders.o_totalprice.positive',  'orders',   o_n, v_price,
          |  'orders.o_orderstatus.domain',   'orders',   o_n, v_status,
          |  'orders.o_orderdate.range',      'orders',   o_n, v_date,
          |  'customer.c_acctbal.nonneg',     'customer', c_n, v_bal)
          |  AS (constraint_id, tbl, checked, violations)""".stripMargin))
      .withColumn("pass", col("violations") === 0L)
      .orderBy(col("constraint_id"))
  }

  val dqConstraintsSql: String =
    """WITH oa AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS o_n,
      |    CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS v_nullkey,
      |    CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS o_ndv,
      |    CAST(SUM(CASE WHEN o_totalprice > 0.0 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS v_price,
      |    CAST(SUM(CASE WHEN o_orderstatus IN ('F','O','P') THEN 0 ELSE 1 END)
      |      AS BIGINT) AS v_status,
      |    CAST(SUM(CASE WHEN o_orderdate >= TIMESTAMP '1995-01-01'
      |      AND o_orderdate < TIMESTAMP '2001-01-01' THEN 0 ELSE 1 END)
      |      AS BIGINT) AS v_date
      |  FROM orders),
      |orph AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS v_orphan FROM orders o
      |  WHERE NOT EXISTS (
      |    SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
      |ca AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS c_n,
      |    CAST(SUM(CASE WHEN c_acctbal >= 0.0 THEN 0 ELSE 1 END)
      |      AS BIGINT) AS v_bal
      |  FROM customer)
      |SELECT constraint_id, tbl, checked, violations,
      |  violations = 0 AS pass
      |FROM (
      |  SELECT 'orders.o_orderkey.not_null' AS constraint_id,
      |    'orders' AS tbl, o_n AS checked, v_nullkey AS violations FROM oa
      |  UNION ALL SELECT 'orders.o_orderkey.unique', 'orders', o_n,
      |    o_n - o_ndv FROM oa
      |  UNION ALL SELECT 'orders.o_custkey.ref_customer', 'orders', o_n,
      |    v_orphan FROM oa CROSS JOIN orph
      |  UNION ALL SELECT 'orders.o_totalprice.positive', 'orders', o_n,
      |    v_price FROM oa
      |  UNION ALL SELECT 'orders.o_orderstatus.domain', 'orders', o_n,
      |    v_status FROM oa
      |  UNION ALL SELECT 'orders.o_orderdate.range', 'orders', o_n,
      |    v_date FROM oa
      |  UNION ALL SELECT 'customer.c_acctbal.nonneg', 'customer', c_n,
      |    v_bal FROM ca)
      |ORDER BY constraint_id""".stripMargin

  /** Change-data-capture snapshot diff — given yesterday's and today's
    * table states, emit the change feed (I/U/D rows) that replays one
    * into the other; the op every incremental-sync pipeline runs. The
    * "new" snapshot derives from orders by deterministic rules shared
    * verbatim with the oracle (delete keys ≡0 mod 97, reclassify
    * priority on ≡0 mod 31, insert key+10M clones of ≡0 mod 41), so no
    * fixture staging is needed and the DIFF is what's under test: one
    * full outer join on the key, row classification, unchanged rows
    * dropped. At 100 TB both snapshots shuffle once on the key — or
    * zero times when stored bucketed ([[graft.operators.Relational
    * .joinBucketed]] shows that path); the change feed is the small
    * output, never materialized wide. */
  def cdcSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val oldS = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("old_priority"))
    val base = Tables.orders(spark, dir)
    val kept = base.where(expr("o_orderkey % 97 != 0"))
      .select(col("o_orderkey").as("k"),
        when(expr("o_orderkey % 31 = 0"), lit("9-RECLASS"))
          .otherwise(col("o_orderpriority")).as("new_priority"))
    val inserted = base.where(expr("o_orderkey % 41 = 0"))
      .select((col("o_orderkey") + lit(10000000L)).as("k"),
        col("o_orderpriority").as("new_priority"))
    val newS = kept.unionAll(inserted)
    oldS.join(newS, Seq("k"), "full_outer")
      .withColumn("op",
        when(col("new_priority").isNull, "D")
          .when(col("old_priority").isNull, "I")
          .when(col("old_priority") =!= col("new_priority"), "U"))
      .where(col("op").isNotNull)
      .select(col("op"), col("k"), col("old_priority"), col("new_priority"))
      .orderBy(col("k"))
  }

  val cdcSnapshotDiffSql: String =
    """WITH olds AS (
      |  SELECT o_orderkey AS k, o_orderpriority AS old_priority
      |  FROM orders),
      |news AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 31 = 0 THEN '9-RECLASS'
      |         ELSE o_orderpriority END AS new_priority
      |  FROM orders WHERE o_orderkey % 97 != 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 AS k, o_orderpriority AS new_priority
      |  FROM orders WHERE o_orderkey % 41 = 0)
      |SELECT
      |  CASE WHEN n.new_priority IS NULL THEN 'D'
      |       WHEN o.old_priority IS NULL THEN 'I'
      |       WHEN o.old_priority <> n.new_priority THEN 'U' END AS op,
      |  COALESCE(o.k, n.k) AS k, o.old_priority, n.new_priority
      |FROM olds o FULL OUTER JOIN news n ON o.k = n.k
      |WHERE CASE WHEN n.new_priority IS NULL THEN 'D'
      |           WHEN o.old_priority IS NULL THEN 'I'
      |           WHEN o.old_priority <> n.new_priority THEN 'U' END
      |  IS NOT NULL
      |ORDER BY k""".stripMargin

  /** Apply the [[cdcSnapshotDiff]] change feed back onto the OLD
    * snapshot — the CDC consumer's merge step, closed under the
    * producer: delete D keys, overwrite U keys with the new value,
    * union I rows. Correctness is definitional: the result must BE
    * the new snapshot, and the oracle derives that new snapshot
    * directly from the shared mod rules — so the gate proves
    * diff→apply round-trips losslessly (the property a CDC pipeline
    * actually depends on). Emitted as a checksum-shaped per-priority
    * rollup (count + key sum) so the hashed output is bounded while
    * still pinning every row.
    *
    * Scale shape: the change feed joins the base by KEY (anti for
    * D/U, union for I/U) — cost ∝ changes + one base scan, the
    * standard CDC merge; the rollup is one ≤|priorities| aggregate. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame = {
    val changes = cdcSnapshotDiff(spark, dir)
    val base = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("k"),
        col("o_orderpriority").as("priority"))
    val dropped = base.join(
      changes.where(col("op").isin("D", "U")).select(col("k")),
      Seq("k"), "left_anti")
    val replaced = changes.where(col("op").isin("I", "U"))
      .select(col("k"), col("new_priority").as("priority"))
    dropped.unionAll(replaced)
      .groupBy(col("priority"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("key_sum"))
      .orderBy(col("priority"))
  }

  val cdcApplySql: String =
    """WITH news AS (
      |  SELECT o_orderkey AS k,
      |    CASE WHEN o_orderkey % 31 = 0 THEN '9-RECLASS'
      |         ELSE o_orderpriority END AS priority
      |  FROM orders WHERE o_orderkey % 97 != 0
      |  UNION ALL
      |  SELECT o_orderkey + 10000000 AS k, o_orderpriority AS priority
      |  FROM orders WHERE o_orderkey % 41 = 0)
      |SELECT priority, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(k) AS BIGINT) AS key_sum
      |FROM news
      |GROUP BY priority
      |ORDER BY priority""".stripMargin

  /** Referential-integrity audit — the FK half of data quality
    * ([[dqConstraints]] covers column constraints): orphan counts for
    * each foreign-key edge of the star schema (orders→customer,
    * lineitem→orders, lineitem→part, lineitem→supplier), one row per
    * edge with referencing rows, distinct keys, orphan rows, and
    * orphan ppm — the report a warehouse runs before trusting joins.
    *
    * Scale shape: each edge is ONE left-anti join (fact side keyed,
    * dim side a broadcast where it fits) aggregated to a scalar,
    * unioned into a ≤4-row frame. Orphan counting never materializes
    * orphan rows — the anti-join feeds straight into count. */
  def dqReferential(spark: SparkSession, dir: String): DataFrame = {
    def edge(name: String, fact: DataFrame, fk: String,
             dim: DataFrame, pk: String): DataFrame = {
      val n = fact.agg(count(lit(1)).as("n_rows"),
        countDistinct(col(fk)).as("n_keys"))
      val orphans = fact.join(dim.select(col(pk)),
          fact(fk) === dim(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      n.crossJoin(broadcast(orphans))
        .select(lit(name).as("fk_edge"), col("n_rows"), col("n_keys"),
          col("n_orphans"),
          expr("(1000000L * n_orphans) div n_rows").as("orphan_ppm"))
    }
    val o = Tables.orders(spark, dir)
    val l = Tables.lineitem(spark, dir)
    edge("lineitem.l_orderkey->orders", l, "l_orderkey",
        o.select(col("o_orderkey")), "o_orderkey")
      .unionAll(edge("lineitem.l_partkey->part", l, "l_partkey",
        Tables.part(spark, dir).select(col("p_partkey")), "p_partkey"))
      .unionAll(edge("lineitem.l_suppkey->supplier", l, "l_suppkey",
        Tables.supplier(spark, dir).select(col("s_suppkey")), "s_suppkey"))
      .unionAll(edge("orders.o_custkey->customer", o, "o_custkey",
        Tables.customer(spark, dir).select(col("c_custkey")), "c_custkey"))
      .orderBy(col("fk_edge"))
  }

  val dqReferentialSql: String =
    """WITH e1 AS (
      |  SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
      |    CAST(COUNT(*) AS BIGINT) AS n_rows,
      |    CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_keys,
      |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_orphans
      |  FROM lineitem li LEFT JOIN orders o ON o.o_orderkey = li.l_orderkey),
      |e2 AS (
      |  SELECT 'lineitem.l_partkey->part',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(DISTINCT l_partkey) AS BIGINT),
      |    CAST(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT)
      |  FROM lineitem li LEFT JOIN part p ON p.p_partkey = li.l_partkey),
      |e3 AS (
      |  SELECT 'lineitem.l_suppkey->supplier',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(DISTINCT l_suppkey) AS BIGINT),
      |    CAST(SUM(CASE WHEN s.s_suppkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT)
      |  FROM lineitem li LEFT JOIN supplier s ON s.s_suppkey = li.l_suppkey),
      |e4 AS (
      |  SELECT 'orders.o_custkey->customer',
      |    CAST(COUNT(*) AS BIGINT),
      |    CAST(COUNT(DISTINCT o_custkey) AS BIGINT),
      |    CAST(SUM(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END)
      |      AS BIGINT)
      |  FROM orders o LEFT JOIN customer c ON c.c_custkey = o.o_custkey),
      |u AS (
      |  SELECT * FROM e1 UNION ALL SELECT * FROM e2
      |  UNION ALL SELECT * FROM e3 UNION ALL SELECT * FROM e4)
      |SELECT fk_edge, n_rows, n_keys, n_orphans,
      |  (1000000 * n_orphans) // n_rows AS orphan_ppm
      |FROM u
      |ORDER BY fk_edge""".stripMargin

  /** 32-bit row hash of a BIGINT key: md5 8-hex prefix parsed in two
    * 16-bit halves with the instr idiom — identical text in both
    * engines (no conv() in DuckDB). */
  private def rowHashExpr(key: String): String = {
    def hex4(off: Int): String =
      s"""((instr('0123456789abcdef', substr(md5('ck:' || CAST($key AS STRING)), ${off}, 1)) - 1) * 4096
         | + (instr('0123456789abcdef', substr(md5('ck:' || CAST($key AS STRING)), ${off + 1}, 1)) - 1) * 256
         | + (instr('0123456789abcdef', substr(md5('ck:' || CAST($key AS STRING)), ${off + 2}, 1)) - 1) * 16
         | + (instr('0123456789abcdef', substr(md5('ck:' || CAST($key AS STRING)), ${off + 3}, 1)) - 1))"""
        .stripMargin
    // the high half must widen BEFORE the ×65536 — 65535·65536
    // overflows INT under ANSI
    s"(CAST(${hex4(1)} AS BIGINT) * 65536 + CAST(${hex4(5)} AS BIGINT))"
  }

  /** Order-free table checksums — the cross-system validation op a
    * migration runs on both sides of a copy: per table, row count and
    * the SUM of 32-bit md5 row hashes over the primary key (addition
    * commutes, so the checksum is partition- and order-independent —
    * exactly why row-hash-sum is the standard table-diff primitive).
    * One row per audited table; a single flipped/missing/extra row
    * moves the checksum with probability ≈ 1−2⁻³².
    *
    * Scale shape: each table is ONE map-side-combinable scalar
    * aggregate over a key projection — no shuffle wider than a
    * 1-row frame, no sort. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    def one(name: String, df: DataFrame, key: String): DataFrame =
      df.select(expr(rowHashExpr(key)).as("h"))
        .agg(count(lit(1)).as("n_rows"), sum(col("h")).as("hash_sum"))
        .select(lit(name).as("table_name"), col("n_rows"), col("hash_sum"))
    one("customer", Tables.customer(spark, dir), "c_custkey")
      .unionAll(one("lineitem",
        Tables.lineitem(spark, dir)
          .withColumn("lk",
            expr("l_orderkey * 10 + l_linenumber")), "lk"))
      .unionAll(one("orders", Tables.orders(spark, dir), "o_orderkey"))
      .orderBy(col("table_name"))
  }

  val tableChecksumSql: String =
    s"""WITH c AS (
       |  SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(${rowHashExpr("c_custkey")}) AS BIGINT) AS hash_sum
       |  FROM customer),
       |l AS (
       |  SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(${rowHashExpr("lk")}) AS BIGINT)
       |  FROM (SELECT l_orderkey * 10 + l_linenumber AS lk FROM lineitem)),
       |o AS (
       |  SELECT 'orders', CAST(COUNT(*) AS BIGINT),
       |    CAST(SUM(${rowHashExpr("o_orderkey")}) AS BIGINT)
       |  FROM orders)
       |SELECT * FROM c UNION ALL SELECT * FROM l UNION ALL SELECT * FROM o
       |ORDER BY table_name""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cdc_apply" -> cdcApply,
    "cdc_snapshot_diff" -> cdcSnapshotDiff,
    "layout_zorder" -> layoutZorder,
    "table_stats" -> tableStats,
    "table_skew" -> tableSkew,
    "write_dynamic_overwrite" -> writeDynamicOverwrite,
    "dq_constraints" -> dqConstraints,
    "dq_referential" -> dqReferential,
    "table_checksum" -> tableChecksum,
  )

  val oracleSql: Map[String, String] = Map(
    "cdc_apply" -> cdcApplySql,
    "cdc_snapshot_diff" -> cdcSnapshotDiffSql,
    "layout_zorder" -> layoutZorderSql,
    "table_stats" -> tableStatsSql,
    "table_skew" -> tableSkewSql,
    "write_dynamic_overwrite" -> writeDynamicOverwriteSql,
    "dq_constraints" -> dqConstraintsSql,
    "dq_referential" -> dqReferentialSql,
    "table_checksum" -> tableChecksumSql,
  )
}
