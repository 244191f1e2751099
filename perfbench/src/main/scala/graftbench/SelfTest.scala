package graftbench

import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** Checks on the sink itself, run by the benchmark's own tests. */
object SelfTest {
  def run(plan: JsonNode): java.util.Map[String, Any] = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", plan.get("tmp_dir").asText())
      .config("spark.sql.warehouse.dir", plan.get("tmp_dir").asText() + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new java.util.LinkedHashMap[String, Any]()
    val base = spark.range(0, 1000, 1, 4).select(col("id"), (col("id") % 7).as("g"),
      (col("id") * 0.1).as("x"), array(col("id"), col("id") + 1).as("arr"))

    // a failing expression in a column no key depends on: count() prunes
    // it away, the sink must evaluate it
    val poisoned = base.select(col("id"),
      when(col("id") >= 0, raise_error(lit("poisoned column"))).otherwise(lit("ok")).as("bad"))
      .orderBy("id")
    out.put("poisoned_count_rows", poisoned.count())
    out.put("poisoned_sink_error",
      try { Sink.digest(poisoned); "" } catch { case NonFatal(e) => Main.errorOf(e) })

    // the final sort stays in the executed plan
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val sorted = Sink.digest(base.orderBy(col("g").desc, col("id")))
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
    spark.listenerManager.unregister(l)
    out.put("sorted_plan_has_sort", plans.toArray.exists(_.toString.contains("Sort [")))

    // order- and partitioning-insensitive, value-sensitive
    val a = Sink.digest(base.repartition(1))
    val b = Sink.digest(base.repartition(7).orderBy(col("x").desc))
    val c = Sink.digest(base.withColumn("x", when(col("id") === 500, lit(-1.0)).otherwise(col("x"))))
    out.put("rows", a.rows)
    out.put("same_rows_same_digest", a == b && a == sorted)
    out.put("changed_value_changes_digest", a.checksum != c.checksum)
    spark.stop()
    out
  }
}
