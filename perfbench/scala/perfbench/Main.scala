package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}
import graft.sim.TickReplay

/** JVM side of the benchmark; `perfbench/run.py` drives it.
  *
  * `--mode run` (default) runs one workload and writes its raw record to
  * `--out`: the measured lap and, with `--trace 1`, one untraced baseline
  * lap, one traced lap and the module probes, with their spans, jobs and
  * plans. The harness derives the metrics and checks from that record.
  *
  * `--mode list-queries` prints the registered query names.
  * `--mode selftest` checks that the harness's seed-0 tick feed equals
  * `TickReplay.syntheticTicks`, that traced per-layer job counts and
  * output digests repeat exactly, and that the module probes match the
  * entry points they mirror, on small inputs. */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    opt.getOrElse("mode", "run") match {
      case "list-queries" => SparkEntry.queries.keys.toSeq.sorted.foreach(println)
      case "selftest" => selfTest(opt)
      case "run" => run(opt)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def session(opt: Map[String, String]): SparkSession =
    GraftSession.local(opt.getOrElse("cores", "4"))

  private def workload(spark: SparkSession, opt: Map[String, String]): Workload =
    opt("workload") match {
      case "ref_ticks" => new RefTicks(spark, opt("data") + "/ticks")
      case "fixed_cost" => new Sequence(Seq(
        new EventsSweep(spark, opt("data") + "/events", opt("work")),
        new QuerySuite(spark, opt("data") + "/tables",
          opt("queries").split(',').toSeq.map { q =>
            val Array(name, layer) = q.split(':'); (name, layer)
          })))
      case w => sys.error(s"unknown workload $w")
    }

  def run(opt: Map[String, String]): Unit = {
    val spark = session(opt)
    val w = workload(spark, opt)
    val laps = mutable.ArrayBuffer.empty[(String, Seq[Op])]
    w.warmInputs()
    val setupEndMs = System.currentTimeMillis()
    // One measured lap in a fresh JVM, cold start included: fixed work per
    // run, so every run of every commit measures the same thing.
    laps += (("measure", w.lap(None)))
    val traced = if (opt("trace") != "1") None else {
      // The untraced twin of the traced lap, run just before it, so the
      // tracing overhead is not confused with the warm-up between laps.
      laps += (("baseline", w.lap(None)))
      val tr = new Tracer(spark)
      tr.jvmWindowStart()
      laps += (("traced", w.lap(Some(tr))))
      val jvm = tr.jvmWindowEnd()
      laps += (("probe", w.probes(tr)))
      Some((tr, jvm))
    }
    val out = new StringBuilder
    out ++= s"""{"setup_end_ms":$setupEndMs,"""
    out ++= s""""cores":${spark.sparkContext.defaultParallelism},"laps":["""
    out ++= laps.map { case (kind, ops) =>
      s"""{"kind":${Json.str(kind)},"ops":[""" + ops.map(Json.op).mkString(",") + "]}"
    }.mkString(",")
    out ++= "]"
    traced.foreach { case (tr, (gc, heap)) =>
      out ++= ""","spans":[""" + tr.spans.map(Json.span).mkString(",") + "]"
      out ++= ""","jobs":[""" + tr.jobs.map(Json.job).mkString(",") + "]"
      out ++= ""","plans":[""" + tr.plans.map(Json.plan).mkString(",") + "]"
      out ++= s""","jvm":{"gc_s":$gc,"heap_peak_mb":$heap}"""
    }
    out ++= "}\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(opt("out")),
      out.toString.getBytes("UTF-8"))
    spark.stop()
  }

  /** Prints one JSON object per check: {"check": name, "ok": bool, ...}. */
  def selfTest(opt: Map[String, String]): Unit = {
    val spark = session(opt)
    import spark.implicits._
    def report(name: String, ok: Boolean, detail: String = ""): Unit =
      println(s"""{"check":${Json.str(name)},"ok":$ok,"detail":${Json.str(detail)}}""")
    val ref = TickReplay.syntheticTicks(spark, 3, 1500).collect()
      .map(t => (t.scenarioId, t.timeMsc, (t.bid + t.ask) / 2))
    val gen = spark.read.parquet(opt("seed0-feed")).as[(String, Long, Double)]
      .collect().sortBy(t => (t._1, t._2))
    report("seed0_reproduces_syntheticTicks", ref.length == gen.length &&
      ref.zip(gen).forall { case (a, b) =>
        a._1 == b._1 && a._2 == b._2 && math.abs(a._3 - b._3) < 1e-9 },
      s"${ref.length} vs ${gen.length} rows")

    val dir = opt("work")
    val tr = new Tracer(spark)
    val small: Seq[(String, Workload)] = Seq(
      "ref_ticks" -> new RefTicks(spark, opt("ticks")),
      "events_sweep" -> new EventsSweep(spark, opt("events"), s"$dir/events_out"))
    small.foreach { case (name, w) =>
      def digests(ops: Seq[Op]) = ops.map(o => o.digest + o.error)
      val untraced = digests(w.lap(None))
      def tracedLap(): (Map[String, Int], Seq[String], Seq[Op]) = {
        tr.clear()
        val ops = w.lap(Some(tr))
        val probes = w.probes(tr)
        (tr.jobs.groupBy(_.layer).map { case (l, j) => l -> j.size }, digests(ops), probes)
      }
      val (a, da, pa) = tracedLap()
      val (b, db, pb) = tracedLap()
      report(s"${name}_jobs_repeat", a == b && a.values.sum > 0,
        a.toSeq.sorted.mkString(" ") + " / " + b.toSeq.sorted.mkString(" "))
      report(s"${name}_traced_digests_match_untraced", da == untraced && db == untraced,
        (untraced ++ da ++ db).mkString(" "))
      val probeErrors = (pa ++ pb).map(_.error).filter(_.nonEmpty)
      val sweepProbe = (pa ++ pb).filter(_.name == "sweep_probe").map(_.digest)
      report(s"${name}_probes_match_entry_points", pa.nonEmpty && probeErrors.isEmpty &&
        sweepProbe.forall(d => untraced.contains(d)),
        (probeErrors ++ sweepProbe).mkString(" "))
    }
    spark.stop()
  }
}

/** Minimal JSON writer for the raw record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def op(o: Op): String =
    s"""{"name":${str(o.name)},"secs":${o.secs},"digest":${str(o.digest)},""" +
      s""""error":${str(o.error)},"ticks":${o.ticks}}"""

  def span(s: Span): String =
    s"""{"layer":${str(s.layer)},"name":${str(s.name)},"start_ms":${s.startMs},""" +
      s""""end_ms":${s.endMs},"wall_s":${s.wallS},"ticks":${s.ticks}}"""

  def job(j: Job): String =
    s"""{"layer":${str(j.layer)},"span":${j.span},"start_ms":${j.startMs},""" +
      s""""end_ms":${j.endMs},"task_s":${j.taskS},"max_task_s":${j.maxTaskS},""" +
      s""""shuffle_bytes":${j.shuffleBytes}}"""

  def plan(p: Plan): String =
    s"""{"layer":${str(p.layer)},"span":${p.span},"plan_s":${p.planS}}"""
}
