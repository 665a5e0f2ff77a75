package graft.core

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Column-class partition of a schema, mirroring the reference's
  * `_update_types` (handyspark/sql/dataframe.py:202-211):
  *   numerical   = byte/short/int/long/float/double
  *   continuous  = float/double
  *   categorical = byte/short/int/long/boolean/string  (the reference has a
  *                 'boolan' typo that silently drops booleans; we fix it)
  *   array       = array/map
  *   string      = string
  */
object ColumnClasses {
  private val integral: Set[DataType] =
    Set(ByteType, ShortType, IntegerType, LongType)
  private val fractional: Set[DataType] = Set(FloatType, DoubleType)

  def numerical(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if integral(f.dataType) || fractional(f.dataType) => f.name
    }.toSeq
  def continuous(schema: StructType): Seq[String] =
    schema.fields.collect { case f if fractional(f.dataType) => f.name }.toSeq
  def categorical(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if integral(f.dataType) || f.dataType == BooleanType ||
        f.dataType == StringType => f.name
    }.toSeq
  def arrayLike(schema: StructType): Seq[String] =
    schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] => f.name
    }.toSeq
  def stringCols(schema: StructType): Seq[String] =
    schema.fields.collect { case f if f.dataType == StringType => f.name }.toSeq

  /** Resolve a type-alias selector ('continuous', 'categorical', 'numerical',
    * 'string', 'array') or a plain column name list, as the reference's
    * HandyColumns aliases do (dataframe.py:1486-1490). */
  def resolve(schema: StructType, selector: String): Seq[String] = selector match {
    case "numerical"   => numerical(schema)
    case "continuous"  => continuous(schema)
    case "categorical" => categorical(schema)
    case "array"       => arrayLike(schema)
    case "string"      => stringCols(schema)
    case name          => Seq(name)
  }
}

/** A DataFrame decorated with replayable state — the engine's fundamental
  * abstraction (reference `HandyFrame`, handyspark/sql/dataframe.py:858-949).
  * Scala has no dynamic method interception, so combinators return a new
  * `HandyFrame` explicitly and `.df` exposes the raw frame.
  */
final case class HandyFrame(df: DataFrame, state: HandyState = HandyState()) {

  def schema: StructType = df.schema

  def numericalCols: Seq[String] = ColumnClasses.numerical(schema)
  def continuousCols: Seq[String] = ColumnClasses.continuous(schema)
  def categoricalCols: Seq[String] = ColumnClasses.categorical(schema)
  def stringCols: Seq[String] = ColumnClasses.stringCols(schema)

  /** Safety-limited collect (reference dataframe.py:1112-1150): collects at
    * most `state.safetyLimit` rows unless `safetyOff` was set; the off flag
    * is one-shot. Returns (rows, frameWithResetFlag). */
  def safeCollect(): (Array[Row], HandyFrame) = {
    val rows =
      if (state.safetyOff) df.collect()
      else df.limit(state.safetyLimit).collect()
    (rows, copy(state = state.copy(safetyOff = false)))
  }

  /** One-shot disable of the safety limit for the next collect. */
  def safetyOff(): HandyFrame = copy(state = state.copy(safetyOff = true))
  def setSafetyLimit(n: Int): HandyFrame =
    copy(state = state.copy(safetyLimit = n))

  /** Record the response/label column; non-continuous response implies
    * classification and materializes the distinct class labels
    * (reference dataframe.py:475-484). The label set is a DRIVER
    * collect, so it is probe-guarded: a limit-(maxClasses+1) distinct
    * probe refuses a continuous-ish response (ids, free text
    * misclassified as categorical) BEFORE anything unbounded is pulled
    * to the driver — the same probe-and-refuse contract as the strata
    * and window-family guards. */
  def setResponse(col: String, maxClasses: Int = 10000): HandyFrame = {
    require(schema.fieldNames.contains(col), s"unknown column $col")
    val isCont = continuousCols.contains(col)
    val classes =
      if (isCont) None
      else {
        val probe = df.select(col).distinct().limit(maxClasses + 1).collect()
        require(probe.length <= maxClasses,
          s"setResponse: column $col has more than maxClasses=$maxClasses " +
            "distinct labels — not a classification response; declare it " +
            "continuous or raise maxClasses")
        Some(probe.map(_.get(0)).toSeq)
      }
    copy(state = state.copy(responseCol = Some(col), classes = classes))
  }

  /** Map any DataFrame transformation while preserving state. */
  def transform(f: DataFrame => DataFrame): HandyFrame = copy(df = f(df))

  // -- assign/transform/apply analogs (reference sql/transform.py:96-131) --

  /** `transform(f, name)`: add one computed column (withColumn). */
  def addColumn(name: String, c: Column): HandyFrame =
    copy(df = df.withColumn(name, c))

  /** `apply(f, name)`: project ONLY the computed column. */
  def applyColumn(name: String, c: Column): HandyFrame =
    copy(df = df.select(c.as(name)))

  /** `assign(**kwargs)`: append many computed columns at once. In the
    * reference, callable kwargs bind by parameter-name=column-name
    * (sql/transform.py:54-57); in Scala the binding is explicit Columns. */
  def assign(cols: (String, Column)*): HandyFrame =
    copy(df = df.withColumns(cols.toMap))

  /** Grouped-map transform (reference `gen_grouped_pandas_udf` /
    * `applyInPandas`, sql/transform.py:74-94): each key group's rows
    * stream through `f` as one batch; `f` returns output rows matching
    * `outSchema`. One shuffle on the grouping keys; `f` runs JVM-side per
    * group, never on the driver. */
  def transformGroups(keyCols: Seq[String], outSchema: StructType)(
      f: Iterator[Row] => Iterator[Row]): HandyFrame = {
    val keyIdx = keyCols.map(df.schema.fieldIndex)
    val grouped = df.groupByKey { r: Row =>
      // injective composite key: null marker + length-prefixed rendering,
      // so null vs "null" and separator-embedding values cannot collide
      keyIdx.map { i =>
        if (r.isNullAt(i)) "N"
        else { val v = String.valueOf(r.get(i)); s"V${v.length}:$v" }
      }.mkString("|")
    }(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroups { (_, it) => f(it) }(
        org.apache.spark.sql.Encoders.row(outSchema))
    copy(df = grouped.toDF())
  }

  /** `_gen_row_ids` analog (reference sql/dataframe.py:973-978 — marked
    * "experimental, DO NOT USE" there because monotonically-increasing ids
    * are plan-dependent). Here: contiguous 0-based ids via zipWithIndex
    * over the CURRENT plan ordering — deterministic for a given plan, but
    * ids are NOT stable across re-optimization; same caveat applies and is
    * why the reference marks it experimental. */
  def genRowIds(idCol: String = "__row_id"): HandyFrame = {
    val withId = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i)
    }
    val schema2 = StructType(df.schema.fields :+
      StructField(idCol, LongType, nullable = false))
    copy(df = df.sparkSession.createDataFrame(withId, schema2))
  }

  /** `_loc` analog (reference sql/dataframe.py:979-985, same experimental
    * caveat): rows with row-id in [start, endExclusive). A
    * [[graft.util.PartitionPrefixScan]] in the frame's own partitioning:
    * pass 1 counts each partition's rows, pass 2 numbers them from the
    * partition's offset. */
  def loc(start: Long, endExclusive: Long): DataFrame = {
    val scan = graft.util.PartitionPrefixScan(df)
    val counts = scan.summarize(_.size.toLong)
    val offsets = counts.scanLeft(0L)(_ + _)
    // seed = the partition's id range [base, end): out-of-range
    // partitions are skipped wholesale rather than streamed
    scan.emit(offsets.zip(offsets.tail), scan.schema) { case ((base, end), it) =>
      if (base >= endExclusive || end <= start) Iterator.empty
      else it.zipWithIndex.collect {
        case (r, i) if base + i >= start && base + i < endExclusive => r
      }
    }
  }

  /** Stratify — enter the reference's signature dataflow operator. */
  def stratify(specs: graft.strata.StratumSpec*): graft.strata.StratifiedFrame =
    graft.strata.StratifiedFrame(df, specs.toSeq)

  /** Stage count of the physical plan (reference counts RDD debug-string
    * indents, sql/dataframe.py:112-116; here: shuffle exchanges + 1,
    * descending through AQE wrapper plans). */
  def stages: Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    def countEx(p: SparkPlan): Int = {
      val self = p match {
        case _: ShuffleExchangeLike => 1
        case _                      => 0
      }
      val inner = p match {
        case a: AdaptiveSparkPlanExec => countEx(a.executedPlan)
        case _                        => p.children.map(countEx).sum
      }
      self + inner
    }
    countEx(df.queryExecution.executedPlan) + 1
  }
}

object HandyFrame {
  /** Null-or-NaN predicate used by fill/isnull — `isnan` is only valid on
    * float/double (reference mixes them: dataframe.py:253-260; Spark 4 ANSI
    * mode makes the distinction mandatory). */
  def isMissing(df: DataFrame, colName: String): Column = {
    val dt = df.schema(colName).dataType
    dt match {
      case FloatType | DoubleType => col(colName).isNull || isnan(col(colName))
      case _                      => col(colName).isNull
    }
  }
}
