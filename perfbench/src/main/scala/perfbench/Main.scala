package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.Bus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** One operation invocation. Times are seconds, `start` epoch ms. */
final case class OpRecord(pass: Int, seq: Int, index: Int, name: String,
                          layer: String, ok: Boolean, error: String,
                          rows: Long, start: Double, constructS: Double,
                          planS: Double, execS: Double, drainS: Double,
                          phases: Map[String, Double])

/** The benchmark harness: one client thread drives a workload's fixed
  * operation list in a closed loop on `local[nproc]`.
  *
  * Pass 0 is the check pass: it warms the JVM and writes every output
  * that is checked against a reference. Timed passes follow until
  * `--seconds` have elapsed. With `--trace 1` there are at least three:
  * even passes run with the listeners attached and record spans, odd
  * passes run without, so the tracing overhead is the difference of the
  * two and a warm-up trend across the passes cancels.
  *
  * {{{
  * java -cp <classpath> perfbench.Main --workload star_short
  *   --input <generated dir> --work <scratch dir> --seconds 10
  *   --trace 0 --out result.json
  * }}}
  */
object Main {
  private val baseMs = System.currentTimeMillis.toDouble
  private val baseNs = System.nanoTime
  def nowMs: Double = baseMs + (System.nanoTime - baseNs) / 1e6

  private def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    .getProcessCpuTime / 1e9

  @annotation.nowarn("cat=deprecation")
  private def fsBytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getBytesWritten).sum

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect {
      case Array(k, v) => k.stripPrefix("--") -> v
    }.toMap
    val work = new File(a("work")).getAbsolutePath
    val checkDir = s"$work/check"
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    def note(what: String): Unit =
      System.err.println(f"[perfbench] ${(nowMs - baseMs) / 1e3}%.2fs $what")
    note("session started")
    val ctx = new Ctx(spark, new File(a("input")).getAbsolutePath, work)
    val wl = Workloads(a("workload"), ctx.input)
    wl.setup(ctx)
    note("fixtures staged")
    val ops = wl.ops
    val checked = wl.oracleChecked.toSet
    val probe = new Probe
    var seq = 0

    def runOp(op: Op, index: Int, pass: Int, traced: Boolean,
              passSpan: Long): OpRecord = {
      seq += 1
      val tag = Probe.TagPrefix + seq
      val opSpan = probe.newId()
      val marks = mutable.ArrayBuffer(nowMs)
      var rows = -1L
      var error = ""
      var phases = Map.empty[String, Double]
      sc.addJobTag(tag)
      ctx.onStream = q => probe.bindRun(q.runId, seq)
      try {
        val df = op.run(ctx)
        marks += nowMs
        df.foreach { d =>
          val qe = d.queryExecution
          qe.executedPlan
          marks += nowMs
          phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
          // the check pass writes what the oracle compares; its row
          // count comes back from the oracle check
          if (pass == 0 && checked(op.name))
            d.coalesce(1).write.mode("overwrite").parquet(s"$checkDir/${op.name}")
          else rows =
            SQLExecution.withNewExecutionId(qe, Some(op.name))(qe.toRdd.count())
          marks += nowMs
        }
      } catch {
        case e: Throwable => error = s"${e.getClass.getName}: ${e.getMessage}"
      } finally sc.removeJobTag(tag)
      while (marks.size < 4) marks += marks.last
      graft.core.Caches.drain(spark)
      graft.core.Caches.release(spark)
      val end = nowMs
      if (traced) {
        probe.add(Span(opSpan, passSpan, seq, op.layer, "op", op.name,
          marks(0), marks(3)))
        Seq("construct", "plan", "exec").zipWithIndex.foreach { case (k, i) =>
          probe.add(Span(probe.newId(), opSpan, seq, op.layer, k, op.name,
            marks(i), marks(i + 1)))
        }
        probe.add(Span(probe.newId(), passSpan, seq, "core", "drain",
          op.name, marks(3), end))
      }
      OpRecord(pass, seq, index, op.name, op.layer, error.isEmpty,
        error.take(500), rows, marks(0), (marks(1) - marks(0)) / 1e3,
        (marks(2) - marks(1)) / 1e3, (marks(3) - marks(2)) / 1e3,
        (end - marks(3)) / 1e3, phases)
    }

    /** Give listener spans their layer, and a parent: the phase of their
      * operation whose interval holds their start. */
    def settleSpans(from: Int): Unit = {
      val own = probe.spans.drop(from)
      val layerOf = own.collect { case s if s.kind == "op" => s.op -> s.layer }.toMap
      val phasesOf = own.filter(s => Set("construct", "plan", "exec")(s.kind))
        .groupBy(_.op)
      val opSpanOf = own.collect { case s if s.kind == "op" => s.op -> s.id }.toMap
      own.indices.foreach { i =>
        val s = own(i)
        if (s.layer.isEmpty) {
          val parent = if (s.parent != 0L) s.parent else
            phasesOf.getOrElse(s.op, Nil)
              .find(p => s.start >= p.start - 1.0 && s.start <= p.end + 1.0)
              .map(_.id).getOrElse(opSpanOf.getOrElse(s.op, 0L))
          probe.spans(from + i) =
            s.copy(parent = parent, layer = layerOf.getOrElse(s.op, "bench"))
        }
      }
    }

    def runPass(pass: Int, traced: Boolean): Map[String, Any] = {
      ctx.pass = pass
      val spanFrom = probe.spans.size
      if (traced) {
        sc.addSparkListener(probe)
        spark.streams.addListener(probe.streams)
      }
      val passSpan = probe.newId()
      val (bytes0, cpu0, t0) = (fsBytesWritten, cpuS, nowMs)
      val recs = ops.zipWithIndex.map { case (op, i) =>
        runOp(op, i, pass, traced, passSpan)
      }
      val (bytes1, cpu1, t1) = (fsBytesWritten, cpuS, nowMs)
      if (traced) {
        Bus.drain(sc)
        sc.removeSparkListener(probe)
        spark.streams.removeListener(probe.streams)
        // a job belongs to the operation its tag names, unless the tag is
        // stale (pooled threads keep the tag of the operation that created
        // them): then to the operation running when it was submitted
        val current = recs.map(_.seq).toSet
        val opSpans = probe.spans.drop(spanFrom).filter(_.kind == "op")
        probe.settle(spanFrom, (tagged, t) =>
          if (current(tagged)) tagged
          else opSpans.find(o => t >= o.start - 2 && t <= o.end + 2)
            .map(_.op).getOrElse(-1))
        probe.add(Span(passSpan, 0L, -1, "bench", "pass", s"pass $pass", t0, t1))
        settleSpans(spanFrom)
      }
      val (bad, counters) = wl.afterPass(ctx)
      // the previous pass's files are no longer needed
      Seq(s"$work/pass${pass - 1}", s"$work/wh/p${pass - 1}").foreach(p =>
        graft.core.Fixtures.deleteRecursively(new File(p)))
      Map("pass" -> pass, "traced" -> traced, "pass_s" -> (t1 - t0) / 1e3,
        "cpu_s" -> (cpu1 - cpu0), "fs_bytes_written" -> (bytes1 - bytes0),
        "mismatches" -> bad, "counters" -> counters,
        "ops" -> recs.map(r => Map(
          "seq" -> r.seq, "index" -> r.index, "name" -> r.name,
          "layer" -> r.layer, "ok" -> r.ok, "error" -> r.error,
          "rows" -> r.rows, "construct_s" -> r.constructS,
          "plan_s" -> r.planS, "exec_s" -> r.execS, "drain_s" -> r.drainS,
          "phases" -> r.phases)))
    }

    val checkPass = runPass(0, traced = false)
    note("check pass done")
    new File(checkDir).mkdirs()
    java.nio.file.Files.writeString(new File(s"$checkDir/oracle_sql.json").toPath,
      Json.render(graft.SparkEntry.oracleSql.filter(e => checked(e._1))))
    val setupDone = nowMs
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 1
    while (passes.isEmpty || nowMs - setupDone < seconds * 1e3 ||
           (trace && passes.size < 3)) {
      passes += runPass(pass, traced = trace && pass % 2 == 0)
      pass += 1
    }
    val measuredEnd = nowMs
    note("timed passes done")
    System.gc()
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    val result = Map(
      "workload" -> a("workload"), "cores" -> cores,
      "setup_done_ms" -> setupDone, "measured_s" -> (measuredEnd - setupDone) / 1e3,
      "retained_heap_mb" -> heap / 1048576.0,
      "check_pass" -> checkPass, "passes" -> passes.toSeq,
      "op_counters" -> probe.counters.toSeq.map { case (op, c) =>
        Map("seq" -> op, "jobs" -> c.jobs, "stages" -> c.stages,
          "tasks" -> c.tasks, "task_s" -> c.runMs / 1e3,
          "task_wait_s" -> c.waitMs / 1e3, "gc_s" -> c.gcMs / 1e3,
          "shuffle_read_mb" -> c.shuffleRead / 1e6,
          "shuffle_write_mb" -> c.shuffleWrite / 1e6,
          "spill_mb" -> c.spill / 1e6,
          "stages_shape" -> c.stageShapes.toSeq, "batches" -> c.batches.toSeq)
      },
      "spans" -> probe.spans.toSeq.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer,
        "kind" -> s.kind, "name" -> s.name, "start" -> s.start, "end" -> s.end)))
    java.nio.file.Files.writeString(new File(a("out")).toPath, Json.render(result))
    spark.stop()
  }
}
