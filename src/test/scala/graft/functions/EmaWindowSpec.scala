package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.SparkSpecBase
import graft.ops.SequentialOps

class EmaWindowSpec extends SparkSpecBase {
  import spark.implicits._

  test("ema window function matches hand recursion and the sequential kernel") {
    val df = Seq(
      ("A", 1L, 10.0), ("A", 2L, 20.0), ("A", 3L, 30.0),
      ("B", 1L, 5.0), ("B", 2L, 7.0)).toDF("k", "seq", "v")
    val w = Window.partitionBy($"k").orderBy($"seq")
    val viaWindow = df.withColumn("ema", GraftFunctions.ema($"v", 0.5).over(w))
      .orderBy("k", "seq").collect().map(_.getAs[Double]("ema"))
    assert(viaWindow.toSeq === Seq(10.0, 15.0, 22.5, 5.0, 6.0))
    val viaKernel = SequentialOps.ema(df, Seq("k"), Seq("seq"), "v", 0.5, "ema")
      .orderBy("k", "seq").collect().map(_.getAs[Double]("ema"))
    assert(viaWindow.toSeq === viaKernel.toSeq)
  }

  test("null inputs carry the previous state; leading nulls stay null") {
    val df = Seq(
      ("A", 1L, Option.empty[Double]), ("A", 2L, Some(10.0)),
      ("A", 3L, Option.empty[Double]), ("A", 4L, Some(20.0)))
      .toDF("k", "seq", "v")
    val w = Window.partitionBy($"k").orderBy($"seq")
    val out = df.withColumn("ema", GraftFunctions.ema($"v", 0.5).over(w))
      .orderBy("seq").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("ema")))
    assert(out(1).getAs[Double]("ema") === 10.0)
    assert(out(2).getAs[Double]("ema") === 10.0)  // carried
    assert(out(3).getAs[Double]("ema") === 15.0)
  }

  test("SQL registration: ema(v, alpha) OVER (...)") {
    GraftFunctions.register(spark)
    Seq(("A", 1L, 10.0), ("A", 2L, 20.0)).toDF("k", "seq", "v")
      .createOrReplaceTempView("ema_in")
    val out = spark.sql(
      """SELECT ema(v, 0.5) OVER (PARTITION BY k ORDER BY seq) AS ema
        |FROM ema_in ORDER BY seq""".stripMargin)
      .collect().map(_.getDouble(0))
    assert(out.toSeq === Seq(10.0, 15.0))
    // registration is idempotent: in a fresh session, two ema(...) calls
    // keep the builder the extension injected instead of replacing it
    val fresh = spark.newSession()
    val registry = fresh.sessionState.functionRegistry
    val ema = org.apache.spark.sql.catalyst.FunctionIdentifier("ema")
    val injected = registry.lookupFunctionBuilder(ema)
    assert(injected.isDefined)
    org.apache.spark.sql.SparkSession.setActiveSession(fresh)
    try {
      GraftFunctions.ema($"v", 0.5)
      GraftFunctions.ema($"v", 0.5)
    } finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
    assert(registry.lookupFunctionBuilder(ema).get eq injected.get)
  }

  test("matches the recursive-CTE oracle shape on real events data") {
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
    val w = Window.partitionBy($"user_id").orderBy($"ts_ns")
    val viaWindow = ev.withColumn("ema", GraftFunctions.ema($"value", 0.2).over(w))
      .select($"user_id", $"event_id", round($"ema", 6).as("ema"))
      .orderBy("user_id", "event_id").collect().map(_.toSeq)
    val viaKernel = SequentialOps.ema(ev, Seq("user_id"), Seq("ts_ns"), "value", 0.2, "ema")
      .select($"user_id", $"event_id", round($"ema", 6).as("ema"))
      .orderBy("user_id", "event_id").collect().map(_.toSeq)
    assert(viaWindow.toSeq === viaKernel.toSeq)
  }
}
