package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.geo.Albers
import graft.ops.{PostingLines, Segments}

/** The posting-lines compute stage: its generated code stays small enough
  * for HotSpot to compile, and its geometry equals the plain-Scala
  * evaluation of the same formula tree bit for bit.
  */
class PostingLinesSpec extends SparkSpec {

  /** HotSpot leaves methods above this many bytecode bytes to the
    * interpreter (`-XX:+DontCompileHugeMethods`, on by default).
    */
  private val HugeMethodLimit = 8000

  /** AQE off, so the codegen stages are in the executed plan up front. */
  private lazy val noAqe = {
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Largest generated method of each WholeStageCodegen stage. */
  private def maxMethodSizes(plan: SparkPlan): Seq[Int] =
    plan.collect { case w: WholeStageCodegenExec => w }
      .map(w => CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize)

  test("merged compiles to one codegen stage under the huge-method limit, no exchange") {
    val plan = PostingLines.merged(noAqe, sfDir).queryExecution.executedPlan
    assert(plan.collect { case e: Exchange => e }.isEmpty, plan.toString)
    val sizes = maxMethodSizes(plan)
    assert(sizes.length === 1, s"codegen stages: $sizes")
    assert(sizes.max < HugeMethodLimit, s"largest generated method: ${sizes.max} bytes")
  }

  test("q_merge_update compiles every codegen stage under the huge-method limit") {
    val sizes = maxMethodSizes(
      SparkEntry.queries("q_merge_update")(noAqe, sfDir).queryExecution.executedPlan)
    assert(sizes.nonEmpty)
    assert(sizes.max < HugeMethodLimit, s"largest generated methods: $sizes")
  }

  /** (sx, sy, ex, ey, lenm) of the row's endpoints in plain Scala, with
    * the length summed in `Segments.lengthM` order.
    */
  private def expected(r: Row): Seq[Double] = {
    val (sx, sy) = Albers.forwardScala(r.getAs[Double]("startlon"), r.getAs[Double]("startlat"))
    val (ex, ey) = Albers.forwardScala(r.getAs[Double]("endlon"), r.getAs[Double]("endlat"))
    Seq(sx, sy, ex, ey, math.sqrt((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy)))
  }

  private def geometry(df: DataFrame): Array[Row] =
    df.select(col("startlon"), col("startlat"), col("endlon"), col("endlat"),
      col("duration"), col("geom.sx"), col("geom.sy"), col("geom.ex"), col("geom.ey"),
      col("lenm"), col("sogkt")).collect()

  private def assertBitIdentical(rows: Array[Row]): Unit = {
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val want = expected(r)
      val got  = (5 to 9).map(r.getDouble)
      assert(got === want, s"row $r")
      assert(r.getDouble(10) === want(4) / r.getInt(4) * Segments.KnotsPerMps, s"sogkt of $r")
    }
  }

  test("merged geometry equals the plain-Scala formula tree exactly") {
    assertBitIdentical(geometry(PostingLines.merged(spark, sfDir)))
  }

  test("stored geometry of processed segments equals the plain-Scala formula tree exactly") {
    val seg = Segments.df(spark, sfDir)
      .filter(col("segmentid") % 5 === 0 && col("duration") =!= 0)
    assertBitIdentical(geometry(seg))
  }

  test("segments keep their 18 public columns") {
    assert(Segments.df(spark, sfDir).columns.toSeq === Seq(
      "segmentid", "uid", "mmsi", "starttime", "duration", "startlat",
      "startlon", "endlat", "endlon", "isclassa", "classais", "classgen",
      "name", "isunique", "lastchange", "geom", "lenm", "sogkt"))
    assert(PostingLines.merged(spark, sfDir).columns.toSeq ===
      Segments.df(spark, sfDir).columns.toSeq)
  }
}
