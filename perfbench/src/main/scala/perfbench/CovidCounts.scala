package perfbench

import org.apache.spark.sql.SparkSession

import graft.etl.{CovidTransform, Jobs, Schemas}
import graft.sources.Sources

/** What the engine makes of a COVID CSV: clean rows and rejects by reason
  * (CovidTransform), and the rows the ELT path keeps (Jobs.eltPipeline).
  * The benchmark's own tests compare this with the generator's counts.
  *
  * Usage: CovidCounts csv=<file> work=<dir>   (prints one JSON line)
  */
object CovidCounts {
  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", kv("work") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val raw = Sources.csv(spark, kv("csv"), Schemas.covidRaw)
    val clean = CovidTransform.clean(raw).count()
    val rejects = CovidTransform.rejects(raw).groupBy("reject_reason").count()
      .collect().map(r => s"${Json.str(r.getString(0))}:${r.getLong(1)}")
      .sorted.mkString("{", ",", "}")
    val eltFinal = Jobs.eltPipeline(spark, kv("csv"), "elt")
    println(s"""{"clean":$clean,"elt_final":$eltFinal,"rejects":$rejects}""")
    spark.stop()
  }
}
