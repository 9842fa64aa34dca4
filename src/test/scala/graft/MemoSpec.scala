package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

/** The memo registry: a rewritten input table rebuilds the memoized frame,
  * builds nest, and clear/count scope to an owner.
  */
class MemoSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory(Paths.get("target"), "memo").toString

  test("a rewritten input table rebuilds the memoized frame") {
    val dir = tmp()
    Files.copy(Paths.get(sfDir, "documents.parquet"), Paths.get(dir, "documents.parquet"))
    val before = ops.Dedup.clusterFrame(spark, dir).count()
    // replace the file in place with a strict subset of its rows, outside
    // Spark (a Spark overwrite of the path would recache it by path)
    val subset = Tables.documents(spark, sfDir).filter(col("doc_id") % 2 === 0)
    val staged = tmp()
    subset.coalesce(1).write.mode("overwrite").parquet(staged)
    val part = Files.list(Paths.get(staged)).iterator().asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.copy(part, Paths.get(dir, "documents.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val after = ops.Dedup.clusterFrame(spark, dir).count()
    assert(after < before, s"stale memo served after the rewrite ($before -> $after)")
    assert(after === ops.Dedup.clusterFrameOf(subset).count())
  }

  test("nested builds both land; clear and count scope to the owner") {
    val dir = tmp()
    val (outer, inner) = (new Object, new Object)
    var builds = 0
    def nested(): Int = Memo(spark, dir, outer, "k") {
      builds += 1
      Memo(spark, dir, inner, "k") { builds += 1; 1 } + 1
    }
    assert(nested() === 2 && nested() === 2 && builds === 2)
    assert(Memo.count(spark, outer) === 1 && Memo.count(spark, inner) === 1)
    Memo.clear(spark, outer)
    assert(Memo.count(spark, outer) === 0 && Memo.count(spark, inner) === 1)
    assert(nested() === 2 && builds === 3, "only the cleared owner rebuilds")
    Memo.clear(spark, outer)
    Memo.clear(spark, inner)
    assert(Memo.count(spark, inner) === 0)
  }
}
