package perfbench

import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.etl.Jobs
import graft.streaming.StreamingIngest

/** Lane workloads: each op is one cold rep of one lane, built through
  * `SparkEntry.queries` and fully materialized by a `noop` write. The seed
  * only permutes the lane order within each pass.
  */
final class LaneWorkload(spark: SparkSession, kv: Map[String, String],
                         lanes: Seq[String], val minPasses: Int) extends Workload {
  private val data = kv("data")
  private val out = kv("work") + "/out"

  private def op(name: String, write: org.apache.spark.sql.DataFrame => Unit) =
    Op(name, phase => {
      val df = phase("build")(SparkEntry.queries(name)(spark, data))
      phase("write")(write(df))
    })

  /** Warm-up pass: writes every lane's output once for the oracle compare. */
  def checkPass: Seq[Op] = lanes.map(n =>
    op(n, _.write.mode("overwrite").parquet(s"$out/$n")))

  def timedPass(rng: Random): Seq[Op] = rng.shuffle(lanes).map(n =>
    op(n, _.write.mode("overwrite").format("noop").save()))

  /** Every op may read any fixture table: its input is the whole fixture. */
  val passInputBytes: Long = Dirs.size(data) * lanes.size
  override def oracles: Map[String, String] =
    SparkEntry.oracleSql.filter { case (k, _) => lanes.contains(k) }
}

object LaneWorkload {
  /** Every second one of the 55 relational and advanced lanes, in
    * declaration order (28 lanes): fixed per-op costs dominate. All 55,
    * with their warm-up pass, do not fit a run's time budget.
    */
  def light: Seq[String] =
    (graft.queries.RelationalQueries.all ++ graft.queries.AdvancedQueries.all)
      .map(_.name).zipWithIndex.collect { case (n, i) if i % 2 == 0 => n }

  /** Iterative lanes whose builders launch many jobs and stages. */
  val loop: Seq[String] = Seq(
    "q234_louvain_communities", "q269_louvain_weighted", "q266_bowtie",
    "q264_scc", "q275_neighborhood_function", "q256_betweenness",
    "q100_bpe_train")
}

/** The paper's pipeline: one pass is covid -> elt -> stream over the same
  * generated rows (the stream reads them split into files). Each op's
  * output is checked against the generator's exact counts.
  */
final class EtlWorkload(spark: SparkSession, kv: Map[String, String]) extends Workload {
  private val work = kv("work")
  private val csv = kv("csv")
  private val streamDir = kv("stream_dir")
  private val expClean = kv("expect_clean").toLong
  private val expFinal = kv("expect_elt_final").toLong
  private var runs = 0

  private def count(table: String): Long =
    if (spark.catalog.tableExists(table)) spark.table(table).count() else 0L

  private def mismatch(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")

  private def covid: Op = {
    var auditBefore = 0L
    Op("covid",
      phase => { runs += 1
        phase("covid")(Jobs.covidPipeline(spark, csv, "covid_daily", "covid_audit",
          s"perfbench-$runs")) },
      reset = () => auditBefore = count("covid_audit"),
      check = r => {
        val s = r.asInstanceOf[Jobs.RunSummary]
        mismatch("covid records", s.recordCount, expClean)
          .orElse(mismatch("audit rows", count("covid_audit"), auditBefore + 1))
      })
  }

  private def elt: Op = Op("elt",
    phase => phase("elt")(Jobs.eltPipeline(spark, csv, "elt")),
    reset = () => {
      spark.sql("DROP DATABASE IF EXISTS elt CASCADE")
      Dirs.delete(s"$work/warehouse/elt.db")
    },
    check = r => mismatch("elt final rows", r.asInstanceOf[Long], expFinal))

  private def stream: Op = Op("stream",
    phase => phase("stream")(
      StreamingIngest.runAvailableNow(spark, streamDir, s"$work/stream_out",
        s"$work/stream_ckpt")),
    reset = () => { Dirs.delete(s"$work/stream_out"); Dirs.delete(s"$work/stream_ckpt") },
    check = r => mismatch("stream rows written", r.asInstanceOf[Long], expClean))

  def checkPass: Seq[Op] = Seq(covid, elt, stream)
  def timedPass(rng: Random): Seq[Op] = Seq(covid, elt, stream)
  val minPasses = 4
  val passInputBytes: Long = 2 * Dirs.size(csv) + Dirs.size(streamDir)
}
