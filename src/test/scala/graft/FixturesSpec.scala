package graft

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Fixture-contract guard: the driver REGENERATES /root/testdata between
  * rounds and has already changed physical types once (round 10 moved
  * events.ts from TIMESTAMP(NANOS) to TIMESTAMP(MICROS), silently breaking
  * 13 queries). This spec pins the CONTRACT every query builder relies on
  * — table presence, key columns, and the normalized events time plane —
  * so a regeneration that shifts schema fails THIS suite by name instead
  * of scattering opaque failures across the inventory.
  */
class FixturesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // all three driver scales: verify runs at sf0.01, bench at sf0.1 — a
  // 0.1-only type shift would otherwise surface only as bench failures
  private val sfDirs = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
    "/root/testdata/sf0.1")

  private val keyColumns: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey", "r_name"),
    "nation" -> Seq("n_nationkey", "n_name", "n_regionkey"),
    "customer" -> Seq("c_custkey", "c_name", "c_mktsegment"),
    "supplier" -> Seq("s_suppkey", "s_name", "s_nationkey"),
    "part" -> Seq("p_partkey", "p_name"),
    "orders" -> Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"),
    "events" -> Seq("event_id", "ts", "user_id", "event_type", "value", "props"),
    "documents" -> Seq("doc_id", "text", "lang", "source"),
    "embeddings" -> Seq("vec_id", "embedding", "label"))

  for (dir <- sfDirs; (table, cols) <- keyColumns.toSeq.sortBy(_._1)) {
    test(s"$table loads at $dir with its contract columns") {
      val df = Tables.load(spark, dir, table)
      val missing = cols.filterNot(df.columns.contains)
      assert(missing.isEmpty, s"$table missing columns: $missing")
      assert(df.limit(1).count() == 1, s"$table is empty at $dir")
    }
  }

  test("events exposes the normalized time plane: exact ts_ns bigint + micros TimestampType ts") {
    for (dir <- sfDirs) {
      val ev = Tables.events(spark, dir)
      assert(ev.schema("ts_ns").dataType == LongType,
        s"ts_ns must stay an exact epoch-nanos long at $dir")
      assert(ev.schema("ts").dataType == TimestampType,
        s"ts must stay TimestampType (not NTZ/long) at $dir")
      // the two columns must agree: ts_ns is EXACTLY micros*1000 (micros
      // fixtures) or truncates to it (nanos fixtures)
      import org.apache.spark.sql.functions._
      val bad = ev.filter(
        expr("ts_ns div 1000") =!= unix_micros(col("ts"))).count()
      assert(bad == 0L, s"ts/ts_ns disagree on $bad rows at $dir")
    }
  }

  test("events NTZ-inference override is scoped to the loader, not the session") {
    import org.apache.spark.sql.functions._
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val ev = Tables.events(spark, sfDirs.head)
    // the flag is restored after the eager schema inference...
    assert(spark.conf.get(ntzKey) == "true",
      "loader must not leak inferTimestampNTZ=false into the session")
    // ...and the already-resolved frame still EXECUTES correctly after the
    // restore (the flag is inference-time only; execution follows the
    // frame's requested schema)
    assert(ev.select(max(col("ts_ns"))).head().getLong(0) > 0L)
    // unrelated reads keep default typing: an NTZ-written column round-trips
    // as NTZ even right after an events load
    val tmp = java.nio.file.Files.createTempDirectory("graft-ntz").toString
    spark.sql("SELECT TIMESTAMP_NTZ '2024-01-02 03:04:05' AS t")
      .write.mode("overwrite").parquet(tmp)
    assert(spark.read.parquet(tmp).schema("t").dataType == TimestampNTZType,
      "unrelated parquet timestamp reads must keep session-default NTZ inference")
  }

  test("fixture schemas are memoized per (sfDir, table): a second load launches no job") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.SpanSugar._
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    def inGroup[T](body: => T): (T, String) = {
      val g = java.util.UUID.randomUUID.toString
      sc.setJobGroup(g, "fixture-schema-memo")
      try (body, g) finally sc.clearJobGroup()
    }
    // jobs launched by one load: a marker job behind it on the listener
    // bus shows that every event of the load has been delivered
    def load(dir: String) = {
      val (df, g) = inGroup(Tables.load(spark, dir, "region"))
      val (_, marker) = inGroup(sc.parallelize(Seq(1), 1).count())
      eventually(timeout(30.seconds)) { assert(groups.contains(marker)) }
      (df, groups.asScala.count(_ == g))
    }
    import spark.implicits._
    val dirA = java.nio.file.Files.createTempDirectory("graft-memo-a").toString
    val dirB = java.nio.file.Files.createTempDirectory("graft-memo-b").toString
    Seq(1, 2, 3).toDF("a").write.parquet(s"$dirA/region.parquet")
    Seq(("x", 7L)).toDF("b", "c").write.parquet(s"$dirB/region.parquet")
    sc.addSparkListener(listener)
    try {
      val (first, firstJobs) = load(dirA)
      assert(firstJobs >= 1, "the first load infers the schema with a job")
      val (second, secondJobs) = load(dirA)
      assert(secondJobs == 0, s"a second load launched $secondJobs job(s)")
      assert(second.schema == first.schema && second.count() == 3L)
      val (other, otherJobs) = load(dirB)
      assert(other.columns.toSeq == Seq("b", "c") && otherJobs >= 1,
        "a different sfDir must not be served from the memo")
    } finally sc.removeSparkListener(listener)
  }

  test("embeddings vectors are float arrays with a consistent dimension") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, sfDirs.head)
    assert(emb.schema("embedding").dataType == ArrayType(FloatType, true) ||
      emb.schema("embedding").dataType == ArrayType(FloatType, false),
      s"embedding type drifted: ${emb.schema("embedding").dataType}")
    val dims = emb.select(size(col("embedding")).as("d"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(dims.length == 1 && dims.head > 0, s"ragged embedding dims: $dims")
  }
}
