package graft

import scala.concurrent.Await
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Par, WebGraph}

/** Cache isolation of the WebGraph loop kernels: their loop-invariant
  * planes are checkpoints private to each call, so a kernel can neither
  * evict a frame its caller cached nor the plane of a kernel running
  * beside it over the same edges.
  */
class WebGraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** Two 3-cycles joined by one bridge, a chain, a self-loop and a
    * duplicate edge.
    */
  private def edges: DataFrame = {
    import spark.implicits._
    Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "d" -> "e",
      "e" -> "f", "f" -> "d", "f" -> "g", "g" -> "h", "h" -> "h",
      "a" -> "b").toDF("src", "dst")
  }

  private def sorted(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("kernels leave a caller-cached frame of the same normalized plane cached") {
    // the exact plan the kernels used to persist and then unpersist
    val plane = edges
      .select(col("src").cast("string").as("esrc"),
        col("dst").cast("string").as("edst"))
      .filter(col("esrc").isNotNull && col("edst").isNotNull &&
        col("esrc") =!= col("edst"))
      .distinct()
      .persist()
    try {
      assert(plane.count() == 9L)
      WebGraph.stronglyConnectedComponents(edges, "src", "dst").collect()
      WebGraph.neighborhoodFunction(edges, "src", "dst", maxT = 16).collect()
      assert(plane.storageLevel != StorageLevel.NONE,
        "a kernel evicted the caller's cached frame")
    } finally plane.unpersist()
  }

  test("two kernels run side by side over the same edges return what sequential calls return") {
    def nf = WebGraph.neighborhoodFunction(edges, "src", "dst", maxT = 16)
    def dd = WebGraph.distanceDistribution(edges, "src", "dst", maxDepth = 16)
    val (nfSeq, ddSeq) = (sorted(nf), sorted(dd))
    // the q275 shape: both driver loops overlapped through Par.grouped
    val fNf = Par.grouped(sorted(nf))
    val fDd = Par.grouped(sorted(dd))
    assert(Await.result(fNf, Duration.Inf) == nfSeq)
    assert(Await.result(fDd, Duration.Inf) == ddSeq)
  }
}
