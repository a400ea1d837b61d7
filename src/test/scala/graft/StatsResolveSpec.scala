package graft

import graft.core.StatsPrune
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, ExprId, Expression}
import org.apache.spark.sql.catalyst.plans.logical.Filter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * `StatsPrune.resolve` runs only the session analyzer over a cached empty
 * relation. Its result must equal what the full DataFrame path gives —
 * `createDataFrame(empty, schema).filter(cond).queryExecution.analyzed` —
 * kept here as the oracle, over literals of every pruned type, coercion
 * casts, `isin`, nested fields and a UDF.
 */
class StatsResolveSpec extends SparkTestBase {

  private val schema = StructType(Seq(
    StructField("i", IntegerType), StructField("l", LongType),
    StructField("s", StringType), StructField("d", DateType),
    StructField("ts", TimestampType), StructField("x", DoubleType),
    StructField("n", StructType(Seq(StructField("a", IntegerType),
      StructField("b", StringType))))))

  private def oracle(cond: Column): Expression = {
    val empty = spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    empty.filter(cond).queryExecution.analyzed.collectFirst {
      case f: Filter => f.condition
    }.get
  }

  /** Expression ids differ between two analyses; names and types do not. */
  private def norm(e: Expression): Expression = e.transform {
    case a: AttributeReference =>
      AttributeReference(a.name, a.dataType, a.nullable, a.metadata)(ExprId(0), a.qualifier)
  }

  test("analyzer-only resolution equals the DataFrame path") {
    val positive = udf((v: Int) => v > 0)
    val conds: Seq[Column] = Seq(
      col("i") === 3, col("l") === 3L, col("l") === 3, col("i") === 3L,
      col("s") === "abc", col("d") === lit(java.sql.Date.valueOf("2024-01-02")),
      col("d") === "2024-01-02", col("ts") >= "2024-01-02 03:04:05",
      col("x") > 1, col("i").isin(1, 2, 3), col("l").isin(1, 2L),
      col("s").isin("a", "b"), col("n.a") === 5, col("n.b").startsWith("q"),
      col("i").isNull || (col("l") < 10 && !(col("s") === "z")),
      positive(col("i")), col("i") + 0 === 7, col("l").between(1, 9))
    conds.foreach { c =>
      val got = StatsPrune.resolve(spark, schema, c)
      assert(norm(got) == norm(oracle(c)), s"$c:\n$got\nvs\n${oracle(c)}")
    }
  }

  test("a filter naming a missing column fails analysis as before") {
    intercept[org.apache.spark.sql.AnalysisException](
      StatsPrune.resolve(spark, schema, col("nope") === 1))
  }
}
