package perfbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.compact.{Compactor, FsOps}
import graft.sources.{AvroSource, GraftCatalog, TxnLog}

/** The overhead-bound workload: a seeded stream of writes and reads on
  * a transaction-log table through the public TxnLog API, two GRAFT SQL
  * verbs through GraftCatalog, one AvailableNow ingest into the
  * `graft-txnlog` sink, the compactor over fragmented parquet and Avro
  * folders, and short registry queries over small star tables. Every
  * pass replays the stream on fresh roots. */
final class Lakehouse(input: String) extends Workload {
  private val session = "perfbench"
  private val steps: Seq[Map[String, Any]] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(s"$input/ops.json"))
    tree.elements().asScala.map { n =>
      n.fields().asScala.map { e =>
        val v = e.getValue
        e.getKey -> (if (v.isTextual) v.asText: Any
                     else if (v.isIntegralNumber) v.asLong: Any
                     else v.asDouble: Any)
      }.toMap[String, Any]
    }.toSeq
  }
  private def files(dir: String): Seq[String] =
    new File(s"$input/$dir").list().filter(_.endsWith(".parquet"))
      .sorted.map(n => s"$input/$dir/$n").toSeq
  private val batches = files("batches")
  private val streamed = files("stream")
  private val formats = Seq("parquet", "avro")

  private def root(c: Ctx) = s"${c.work}/wh/p${c.pass}/t"
  private def sink(c: Ctx) = s"${c.work}/wh/p${c.pass}/s"
  private def table(c: Ctx) = s"pb.p${c.pass}.t"
  private def frag(c: Ctx, f: String) = s"$input/frag/$f"

  // per-pass counters, reset by afterPass
  private var kept, pruned = 0L
  private val compactions = mutable.ArrayBuffer.empty[Compactor.Result]

  override def setup(c: Ctx): Unit = {
    c.spark.conf.set("spark.sql.catalog.pb", classOf[GraftCatalog].getName)
    c.spark.conf.set("spark.sql.catalog.pb.warehouse", s"${c.work}/wh")
  }

  private def step(s: Map[String, Any]): Op = {
    def long(k: String) = s(k).asInstanceOf[Long]
    def tip(c: Ctx) = TxnLog.latestVersion(root(c))
    s("op") match {
      case "append" =>
        Op(s"append_b${long("batch")}", "sources", c => {
          TxnLog.writeAppend(c.spark, root(c),
            c.spark.read.parquet(batches(long("batch").toInt)), session,
            s"b${long("batch")}")
          None
        })
      case "merge" =>
        Op(s"merge_b${long("batch")}", "sources", c => {
          TxnLog.mergeUpsert(c.spark, root(c),
            c.spark.read.parquet(batches(long("batch").toInt)),
            "l_orderkey", session)
          None
        })
      case "delete" =>
        Op("delete_range", "sources", c => {
          TxnLog.deleteRange(c.spark, root(c), "l_orderkey",
            long("lo").toString, long("hi").toString, session)
          None
        })
      case "delete_dv" =>
        Op("delete_range_dv", "sources", c => {
          TxnLog.deleteRangeDV(c.spark, root(c), "l_orderkey",
            long("lo").toString, long("hi").toString, session)
          None
        })
      case "update" =>
        Op("update", "sources", c => {
          TxnLog.update(c.spark, root(c), Seq("l_tax" -> s("tax").toString),
            Some(s"l_orderkey BETWEEN ${long("lo")} AND ${long("hi")}"),
            session)
          None
        })
      case "read_tip" =>
        Op("read_tip", "sources", c => Some(TxnLog.read(c.spark, root(c))))
      case "read_version" =>
        Op("read_version", "sources", c => Some(TxnLog.read(c.spark, root(c),
          math.max(1, tip(c) - long("back").toInt))))
      case "point_lookup" =>
        Op("point_lookup", "sources", c => {
          val key = long("key")
          val (df, k, p) = TxnLog.readPointLookup(c.spark, root(c),
            "l_orderkey", key.toString)
          kept += k.size
          pruned += p.size
          Some(df.where(col("l_orderkey") === key))
        })
      case "changes" =>
        Op("read_changes", "sources", c => Some(TxnLog.readChanges(c.spark,
          root(c), math.max(1, tip(c) - long("back").toInt))))
      case "compact_zorder" =>
        Op("optimize_zorder", "sources", c => {
          TxnLog.compactZorder(c.spark, root(c), Seq("l_partkey", "l_suppkey"),
            session)
          None
        })
      case "vacuum" =>
        Op("vacuum", "sources", c => {
          TxnLog.vacuum(root(c), retainVersions = 2, listingGraceMs = 0L)
          None
        })
      case "sql_describe" =>
        Op("sql_describe_history", "plans",
          c => Some(c.spark.sql(s"GRAFT DESCRIBE HISTORY ${table(c)}")))
      case "sql_optimize" =>
        Op("sql_optimize", "plans",
          c => Some(c.spark.sql(s"GRAFT OPTIMIZE ${table(c)}")))
      case "stream_ingest" =>
        Op("stream_ingest", "streaming", c => {
          val q = c.spark.readStream
            .schema(c.spark.read.parquet(streamed.head).schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(s"$input/stream")
            .writeStream.format("graft-txnlog")
            .option("path", sink(c)).option("appId", session)
            .option("checkpointLocation", s"${c.passDir}/checkpoint")
            .trigger(Trigger.AvailableNow())
            .start()
          c.onStream(q)
          q.awaitTermination()
          None
        })
      case "compactor" =>
        val f = s("format").toString
        Op(s"compactor_$f", "compact", c => {
          val r = Compactor.run(c.spark, Compactor.Config(
            sourceFolder = frag(c, f),
            targetFolder = s"${c.passDir}/compacted_$f",
            tmpFolder = s"${c.passDir}/compactor_tmp_$f", format = f))
          compactions += r
          if (!r.ok) throw new IllegalStateException(r.log.toTsv)
          None
        })
      case "query" => Registry.op(s("name").toString)
      case other => throw new IllegalArgumentException(s"unknown step $other")
    }
  }

  val ops: Seq[Op] = steps.map(step)
  override def oracleChecked: Seq[String] =
    steps.filter(_("op") == "query").map(_("name").toString)

  // ---- reference: the same stream replayed on plain rows, no txn log

  private val fileRows = mutable.HashMap.empty[String, Seq[Row]]
  private def rowsOf(c: Ctx, f: String): Seq[Row] = fileRows.getOrElseUpdate(f,
    c.spark.read.parquet(f).collect().toSeq)
  private def rowsOf(c: Ctx, b: Int): Seq[Row] = rowsOf(c, batches(b))

  private def reference(c: Ctx): Seq[Row] = {
    val state = mutable.LinkedHashMap.empty[Long, Row]
    val tax = rowsOf(c, 0).head.fieldIndex("l_tax")
    def inRange(s: Map[String, Any])(k: Long) =
      k >= s("lo").asInstanceOf[Long] && k <= s("hi").asInstanceOf[Long]
    steps.foreach { s =>
      s("op") match {
        case "append" | "merge" =>
          rowsOf(c, s("batch").asInstanceOf[Long].toInt)
            .foreach(r => state(r.getLong(0)) = r)
        case "delete" | "delete_dv" =>
          state.keys.filter(inRange(s)).toSeq.foreach(state.remove)
        case "update" =>
          state.keys.filter(inRange(s)).toSeq.foreach { k =>
            state(k) = Row.fromSeq(
              state(k).toSeq.updated(tax, s("tax").toString.toDouble))
          }
        case _ => ()
      }
    }
    state.values.toSeq
  }

  /** Describe how two keyed row sets differ, for the run log. */
  private def diff(got: Seq[Row], want: Seq[Row]): String = {
    val (g, w) = (got.map(r => r.getLong(0) -> r).toMap,
      want.map(r => r.getLong(0) -> r).toMap)
    val changed = g.keySet.intersect(w.keySet).filter(k => g(k) != w(k))
    s"${got.size} rows vs ${want.size} expected; extra keys " +
      s"${(g.keySet -- w.keySet).toSeq.sorted.take(5)}, missing keys " +
      s"${(w.keySet -- g.keySet).toSeq.sorted.take(5)}, changed " +
      s"${changed.toSeq.sorted.take(3).map(k => s"${g(k)} != ${w(k)}")}"
  }

  private def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(sizeOf).sum
    else f.length

  /** Compare the tip, the sink table and both compactor outputs with
    * references computed without the txn log. */
  private def verify(c: Ctx, fsOps: FsOps,
                     bad: mutable.ArrayBuffer[String]): Unit = {
    def same(got: Seq[Row], want: Seq[Row]) =
      Lakehouse.checksum(got) == Lakehouse.checksum(want)
    val want = reference(c)
    val tip = TxnLog.read(c.spark, root(c)).collect().toSeq
    if (!same(tip, want)) {
      bad += "table_tip"
      System.err.println(s"[perfbench] table_tip mismatch: ${diff(tip, want)}")
    }
    if (!same(TxnLog.read(c.spark, sink(c)).collect().toSeq,
              streamed.flatMap(rowsOf(c, _)))) bad += "stream_sink"
    // the Avro reader takes one leaf folder at a time
    def avroRows(dir: String): Seq[Row] = fsOps.listLeafFolders(dir, ".avro")
      .flatMap(l => AvroSource.read(c.spark, l).collect().toSeq)
    def parquetRows(dir: String): Seq[Row] =
      c.spark.read.parquet(dir).collect().toSeq
    formats.foreach { f =>
      val rows = if (f == "avro") avroRows _ else parquetRows _
      if (!same(rows(s"${c.passDir}/compacted_$f"), rows(frag(c, f))))
        bad += s"compactor_$f"
    }
  }

  override def afterPass(c: Ctx): (Seq[String], Map[String, Double]) = {
    val bad = mutable.ArrayBuffer.empty[String]
    val fsOps = new FsOps(c.spark.sparkContext.hadoopConfiguration)
    // every pass replays the same stream; the check pass verifies it
    if (c.pass == 0) verify(c, fsOps, bad)
    val tables = Seq(root(c), sink(c))
    val liveBytes = tables.map { t =>
      TxnLog.liveFiles(t, TxnLog.latestVersion(t))
        .map(n => sizeOf(new File(t, n))).sum
    }.sum
    val t0 = System.nanoTime()
    formats.foreach(f => fsOps.listLeafFolders(frag(c, f), s".$f"))
    val listS = (System.nanoTime() - t0) / 1e9
    val parts = compactions.flatMap(_.partitions)
    val inputBytes = steps.collect {
      case s if s("op") == "append" || s("op") == "merge" =>
        new File(batches(s("batch").asInstanceOf[Long].toInt)).length
    }.sum + streamed.map(new File(_).length).sum +
      formats.map(f => sizeOf(new File(frag(c, f)))).sum
    val counters = Map(
      "sources.commits" -> tables.map(t => TxnLog.versions(t).size).sum.toDouble,
      "sources.versions" -> TxnLog.versions(root(c)).size.toDouble,
      "sources.log_mb" -> tables.map(t => sizeOf(new File(t, "_log"))).sum / 1e6,
      "sources.live_files" -> tables.map(t =>
        TxnLog.liveFiles(t, TxnLog.latestVersion(t)).size).sum.toDouble,
      "sources.skip_ratio" ->
        (if (kept + pruned == 0) 0.0 else pruned.toDouble / (kept + pruned)),
      "compact.files_in" -> parts.map(_.inputFiles).sum.toDouble,
      "compact.files_out" -> parts.map(_.outputFiles).sum.toDouble,
      "compact.list_s" -> listS,
      "table_bytes" -> tables.map(t => sizeOf(new File(t))).sum.toDouble,
      "live_bytes" -> liveBytes.toDouble,
      "input_bytes" -> inputBytes.toDouble,
      "input_rows" -> (steps.collect {
        case s if s("op") == "append" || s("op") == "merge" =>
          rowsOf(c, s("batch").asInstanceOf[Long].toInt).size
      }.sum + streamed.map(rowsOf(c, _).size).sum +
        parts.map(_.rows).sum).toDouble)
    kept = 0; pruned = 0; compactions.clear()
    (bad.toSeq, counters)
  }
}

object Lakehouse {
  /** Order-independent checksum: row count and the wrapping sum of a
    * hash of each row's rendering. */
  def checksum(rows: Seq[Row]): (Int, Long) =
    (rows.size, rows.map(r => scala.util.hashing.MurmurHash3.stringHash(
      r.toSeq.map(String.valueOf).mkString("\u0001")).toLong).sum)
}
