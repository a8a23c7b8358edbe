package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.GraftFunctions.detRound

/** Data-quality audit (Deequ/dbt-test-shaped): declarative rules over the
  * dirty CRM inputs, reported as per-rule violation counts and rates — the
  * pre-load gate a production warehouse runs before trusting a batch. The
  * rules here are exactly the dirty-data paths the reference's transforms
  * guard against (F13 dates, F12/P9 numeric guards, Python-falsy FKs), so
  * the report quantifies what those guards will do before they run.
  *
  * Scale shape: rules are grouped by table and computed as ONE conditional
  * aggregate per table (a single scan each, map-side combinable), then the
  * one-row aggregate is unpivoted with `stack` — adding a rule adds a
  * counter, not a scan.
  */
object Quality {

  final case class Rule(rule: String, table: String, violation: Column)

  /** Catalog-style column profile: null and distinct counts per column in
    * one scan. Shape (r9): unpivot FIRST (`stack` to narrow
    * (column_name, value) pairs), pre-aggregate by (column, value), then
    * roll up per column — n_distinct is the number of surviving non-null
    * value groups, n_rows/n_nonnull are count sums. Both levels are
    * map-side combinable and there is NO Expand node: the previous
    * multi-`countDistinct` single-aggregate form planned Expand×(cols+1),
    * whose (cols+1)·rows wide intermediate was the engine's most
    * allocation-sensitive plan (the r8 driver-host contamination inflated
    * it 11×; at 10B rows the Expand intermediate is 60B wide rows, while
    * this form shuffles value-group counts). Values compare as strings —
    * injective within a column's single type, so distinct counts are
    * unchanged.
    */
  def columnProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.types.{BinaryType, DoubleType, FloatType}
    // The stack needs one common type, so values group as strings. The
    // rendering must stay injective per column for n_distinct to equal
    // countDistinct (review r9): binary renders as hex (a UTF-8 cast
    // mangles invalid sequences and can merge distinct blobs), and
    // float/double add +0.0 first so -0.0 and 0.0 group together, the
    // same normalization hash aggregation applies to the native types.
    def rendered(c: String): String = df.schema(c).dataType match {
      case BinaryType => s"hex(`$c`)"
      case DoubleType | FloatType => s"CAST(`$c` + 0.0 AS STRING)"
      // CAST(x AS STRING) is NOT injective for complex types — array('a, b')
      // and array('a','b') both render '[a, b]' — so a generic caller would
      // get silently undercounted n_distinct. Fail loudly instead of lying
      // (ADVICE r9); profile complex columns via an explicit to_json/hash
      // projection chosen by the caller.
      case t: org.apache.spark.sql.types.DataType
          if t.isInstanceOf[org.apache.spark.sql.types.ArrayType] ||
             t.isInstanceOf[org.apache.spark.sql.types.MapType] ||
             t.isInstanceOf[org.apache.spark.sql.types.StructType] =>
        throw new IllegalArgumentException(
          s"columnProfile: column `$c` has non-atomic type ${t.catalogString}; " +
            "its string rendering is not injective, so n_distinct would be " +
            "silently wrong — project it to a scalar (to_json, hash) first")
      case _ => s"CAST(`$c` AS STRING)"
    }
    val stackArgs = cols.map(c => s"'$c', ${rendered(c)}").mkString(", ")
    val byValue = df
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS (column_name, __v)")
      .groupBy(col("column_name"), col("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val profiled = byValue.groupBy(col("column_name"))
      .agg(sum(col("__cnt")).as("n_rows"),
        sum(when(col("__v").isNotNull, col("__cnt")).otherwise(lit(0L))).as("n_nonnull"),
        count(col("__v")).as("n_distinct"))
    // An empty table must still report every column (the pre-r9 single-
    // aggregate form did); anchor on the literal column list and fill the
    // counts with zero. The anchor is |cols| rows — broadcast-trivial.
    import df.sparkSession.implicits._
    cols.toDF("column_name").join(profiled, Seq("column_name"), "left")
      .select(col("column_name"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        coalesce(col("n_rows") - col("n_nonnull"), lit(0L)).as("n_nulls"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        detRound(try_divide(coalesce(col("n_rows") - col("n_nonnull"), lit(0L)).cast("double"),
          coalesce(col("n_rows"), lit(0L))), 4).as("null_rate"))
  }

  /** k-anonymity audit over a quasi-identifier tuple — the privacy gate a
    * corpus passes before publication: every row whose quasi-identifier
    * combination is shared by fewer than k rows is re-identifiable at
    * granularity k. Emits one row per combination with its size and risk
    * flag; the caller suppresses/generalizes the flagged groups (the
    * standard Samarati/Sweeney workflow). One hash aggregate on the
    * quasi-identifier key — combination-cardinality output, never
    * row-cardinality, so the audit is as scalable as any groupBy.
    */
  def kAnonymity(df: DataFrame, quasiIds: Seq[Column], k: Int): DataFrame =
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("n_rows"))
      .withColumn("k_threshold", lit(k.toLong))
      .withColumn("at_risk", col("n_rows") < k)

  /** l-diversity — k-anonymity's companion on the standard privacy ladder:
    * a group can be large (k-anonymous) yet still leak if every member
    * shares the same SENSITIVE value, so each quasi-identifier combination
    * must also see ≥ l distinct sensitive values. Same single-aggregate
    * shape as [[kAnonymity]] with one `countDistinct` alongside the count.
    */
  def lDiversity(df: DataFrame, quasiIds: Seq[Column], sensitive: Column,
                 l: Int): DataFrame =
    df.groupBy(quasiIds: _*)
      .agg(count(lit(1)).as("n_rows"),
        countDistinct(sensitive).as("n_sensitive"))
      .withColumn("l_threshold", lit(l.toLong))
      .withColumn("at_risk", col("n_sensitive") < l)

  /** t-closeness — the third rung of the privacy ladder: a group passes
    * only if its sensitive-value DISTRIBUTION stays within distance t of
    * the global one (diverse-but-skewed groups still leak; l-diversity
    * can't see skew). Distance here is total variation
    * TV = ½ Σ_v |p_g(v) − p(v)|, computed EXACTLY in integers:
    * Σ|c_gv·n − c_v·n_g| / (2·n_g·n), products in DECIMAL(38,0) (oracle:
    * HUGEINT) so 100 TB counts cannot wrap, one double division at the
    * end. Shape: one (quasi, value) aggregate, two roll-ups, and a
    * groups×values grid via a BROADCAST cross join — the sensitive
    * attribute's cardinality is assumed dictionary-sized (languages,
    * labels), never data-sized.
    */
  def tCloseness(df: DataFrame, quasiIds: Seq[Column], sensitive: Column,
                 t: Double): DataFrame = {
    val gv = df.groupBy((quasiIds :+ sensitive.as("__v")): _*)
      .agg(count(lit(1)).as("c_gv"))
    val names = gv.columns.dropRight(2).toSeq
    val qc = names.map(col)
    val gTot = gv.groupBy(qc: _*).agg(sum(col("c_gv")).as("n_g"))
    val vTot = gv.groupBy(col("__v")).agg(sum(col("c_gv")).as("c_v"))
    val nTot = vTot.agg(sum(col("c_v")).as("n_total"))
    gTot.crossJoin(broadcast(vTot))
      .join(gv, names :+ "__v", "left")
      .na.fill(0L, Seq("c_gv"))
      .crossJoin(broadcast(nTot))
      .withColumn("term", abs(
        col("c_gv").cast("decimal(19,0)") * col("n_total")
          - col("c_v").cast("decimal(19,0)") * col("n_g")))
      .groupBy((qc :+ col("n_g")): _*)
      .agg(sum(col("term")).as("num"), max(col("n_total")).as("n_total"))
      .withColumn("tv", detRound(col("num").cast("double")
        / (lit(2.0) * col("n_g") * col("n_total")), 4))
      .withColumn("t_threshold", lit(t))
      .withColumn("at_risk", col("tv") > t)
      .select((qc ++ Seq(col("n_g").as("n_rows"), col("tv"),
        col("t_threshold"), col("at_risk"))): _*)
  }

  def report(tables: Map[String, DataFrame], rules: Seq[Rule]): DataFrame =
    rules.groupBy(_.table).toSeq.sortBy(_._1).map { case (t, rs0) =>
      val rs = rs0.sortBy(_.rule)
      val agg = tables(t).agg(
        count(lit(1)).as("n_rows"),
        rs.zipWithIndex.map { case (r, i) =>
          count(when(r.violation, lit(1))).as(s"__v$i") }: _*)
      val stackArgs = rs.zipWithIndex
        .map { case (r, i) => s"'${r.rule}', __v$i" }.mkString(", ")
      agg.selectExpr(s"'$t' AS table_name", "n_rows",
        s"stack(${rs.size}, $stackArgs) AS (rule, n_violations)")
        .select(col("rule"), col("table_name"), col("n_rows"), col("n_violations"),
          detRound(col("n_violations").cast("double") / col("n_rows"), 4)
            .as("violation_rate"))
    }.reduce(_ unionAll _)
}
