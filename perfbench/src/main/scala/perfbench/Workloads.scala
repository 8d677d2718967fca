package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** What an operation sees: the session, the generated input directory,
  * the run's scratch root and the current pass. */
final class Ctx(val spark: SparkSession, val input: String,
                val work: String) {
  var pass = 0
  /** Called with each streaming query an operation starts. */
  var onStream: org.apache.spark.sql.streaming.StreamingQuery => Unit = _ => ()
  def passDir: String = s"$work/pass$pass"
}

/** One operation of a workload. `run` is the construct step: it calls
  * the layer's public function and returns the frame still to be
  * planned and executed, if there is one. */
final case class Op(name: String, layer: String,
                    run: Ctx => Option[DataFrame])

/** A workload: its fixed operation list plus hooks around passes. */
trait Workload {
  def ops: Seq[Op]
  /** Stage fixtures once, before the first pass. */
  def setup(c: Ctx): Unit = ()
  /** Operations whose outputs `scripts/check.py` compares with the
    * DuckDB oracle (written by the check pass). */
  def oracleChecked: Seq[String] = Seq.empty
  /** After a pass: compare outputs with the workload's own reference
    * and collect counters. Returns (mismatched outputs, counters). */
  def afterPass(c: Ctx): (Seq[String], Map[String, Double]) =
    (Seq.empty, Map.empty)
}

/** Workloads made of registry queries (`graft.SparkEntry.queries`). */
final class Registry(names: Seq[String]) extends Workload {
  def ops: Seq[Op] = names.map(Registry.op)
  override def oracleChecked: Seq[String] = names
}

object Registry {
  private lazy val queries = graft.SparkEntry.queries
  def op(name: String): Op = {
    val fn = queries(name)
    Op(name, if (name.startsWith("llm_")) "llm" else "operators",
      c => Some(fn(c.spark, c.input)))
  }
}

object Workloads {
  /** Execution-bound: the LSH candidate and exact-verify shuffles, the
    * cosine kernel and a width-pinned operation over a replicated corpus. */
  val llmCorpus: Seq[String] = Seq(
    "llm_dedup_fuzzy", "llm_dedup_jaccard", "llm_dedup_embed",
    "llm_sim_search")

  def apply(name: String, input: String): Workload = name match {
    case "llm_corpus" => new Registry(llmCorpus)
    case "lakehouse_rw" => new Lakehouse(input)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
