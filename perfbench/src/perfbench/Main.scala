package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Q, SparkEntry}
import graft.geo.Albers
import graft.ops.{PostingLines, Segments, Sinks}

/** One op's outcome: wall time, and whether its output checked out. */
final case class OpOut(name: String, wallS: Double, cpuS: Double, ok: Boolean)

/** A workload: seeded inputs, one pass = its op list, and output checks.
  * Ops run serially on the driver thread (one closed-loop client).
  */
trait Workload {
  /** Write this workload's seeded inputs under `dir`. */
  def generate(spark: SparkSession, dir: String): Unit
  /** One untimed pass that also records what the timed passes must match. */
  def warm(spark: SparkSession, dir: String, tr: Trace): Unit
  def pass(spark: SparkSession, dir: String, tr: Trace): Seq[OpOut]
  /** Rows one pass processes (for throughput). */
  def rows: Long
}

/** `etl`: the paper's job — PostingLines.merged → Sinks.mergeDays, which
  * rewrites every day partition of the output.
  */
final class Etl(n: Long, seed: Long, work: String) extends Workload {
  val rows: Long = n
  val out = s"$work/etl-out"
  private lazy val kept = (0L until n).count(i => Gen.keeps(Gen.event(seed, n, i))).toLong

  def generate(spark: SparkSession, dir: String): Unit =
    Gen.writeEvents(spark, dir, n, seed)

  def warm(spark: SparkSession, dir: String, tr: Trace): Unit = { pass(spark, dir, tr); () }

  def pass(spark: SparkSession, dir: String, tr: Trace): Seq[OpOut] = {
    val (wall, cpu) = Main.timed(tr.span("op", "merge_days") {
      val df = tr.span("build", "merge_days")(PostingLines.merged(spark, dir))
      tr.span("plan", "merge_days") {
        df.queryExecution.executedPlan
        tr.catalyst(df)
      }
      tr.span("write", "merge_days")(Sinks.mergeDays(df, "starttime", out))
    })
    Seq(OpOut("merge_days", wall, cpu, tr.span("check", "merge_days")(check(spark))))
  }

  /** 64 seeded input rows plus the first zero-duration ones. */
  private lazy val sample = {
    val zeros = (0L until n).iterator.filter(i => !Gen.keeps(Gen.event(seed, n, i))).take(8)
    ((0 until 64).map(k => Gen.below(seed, k, 30, n.toInt).toLong) ++ zeros)
      .distinct.map(i => Gen.event(seed, n, i))
  }

  /** Row count = input rows with duration ≠ 0; on the sample, `lenm` and
    * `sogkt` equal the plain-Scala projection within 1e-6 relative and
    * zero-duration rows are absent.
    */
  def check(spark: SparkSession): Boolean = {
    val got = spark.read.parquet(out)
      .filter(col("segmentid").isin(sample.map(_.event_id): _*))
      .select("segmentid", "lenm", "sogkt").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-6 * math.max(math.abs(b), 1e-3)
    val countOk  = spark.read.parquet(out).count() == kept
    val sampleOk = sample.forall { e =>
      if (!Gen.keeps(e)) !got.contains(e.event_id)
      else got.get(e.event_id).exists { case (lenm, sogkt) =>
        val (len, sog) = expected(e)
        close(lenm, len) && close(sogkt, sog)
      }
    }
    countOk && sampleOk
  }

  /** The FIXTURES.md §3 mapping and the EPSG:3005 length/speed, in plain Scala. */
  private def expected(e: Gen.Ev): (Double, Double) = {
    val slon = -134.0 + (e.user_id % 90) * 0.2
    val slat = 48.5 + (e.event_id % 100) * 0.1
    val elon = slon + (e.value - math.floor(e.value)) * 0.05
    val elat = slat + (e.value * 7 - math.floor(e.value * 7)) * 0.05
    val (sx, sy) = Albers.forwardScala(slon, slat)
    val (ex, ey) = Albers.forwardScala(elon, elat)
    val len = math.sqrt((ex - sx) * (ex - sx) + (ey - sy) * (ey - sy))
    (len, len / (math.floor(e.value).toLong % 600).toInt * Segments.KnotsPerMps)
  }

  /** Same compute into the `noop` sink: (wall s, process CPU s). */
  def noop(spark: SparkSession, dir: String): (Double, Double) = Main.timed {
    PostingLines.merged(spark, dir).write.format("noop").mode("overwrite").save()
  }
}

/** `corpus`: the LLM-curation head. A pass clears the memos, then runs the
  * queries in `SparkEntry.all` order, each timed as build → plan → execute.
  * Execute is one job returning (row count, order-independent row hash),
  * which must equal the warm pass's.
  */
final class CorpusWl(docs: Long, seed: Long) extends Workload {
  val rows: Long = docs
  val qs: Seq[Q] = {
    val all = SparkEntry.all
    val missing = CorpusWl.Names.filterNot(n => all.exists(_.name == n))
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    all.filter(q => CorpusWl.Names.contains(q.name))
  }
  private val expected = scala.collection.mutable.HashMap.empty[String, (Long, Long)]

  /** Row count and the sum of per-row xxhash64 mod a prime (no overflow,
    * order-independent). Top-level floating columns are rounded first so a
    * reordered float sum cannot flip the hash.
    */
  def digest(df: DataFrame, tr: Trace): (Long, Long) = {
    val cols = df.schema.fields.map { f =>
      f.dataType match {
        case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
          round(col(s"`${f.name}`"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols.toIndexedSeq: _*), lit(2147483647L))
    val agg = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum("h"), lit(0L)))
    val r = agg.head()
    tr.catalyst(agg)
    (r.getLong(0), r.getLong(1))
  }

  def generate(spark: SparkSession, dir: String): Unit =
    Gen.writeCorpus(spark, dir, docs, Gen.embeddingsFor(docs), seed)
  def warm(spark: SparkSession, dir: String, tr: Trace): Unit = {
    run(spark, dir, tr, record = true); ()
  }
  def pass(spark: SparkSession, dir: String, tr: Trace): Seq[OpOut] =
    run(spark, dir, tr, record = false)

  private def run(spark: SparkSession, dir: String, tr: Trace, record: Boolean): Seq[OpOut] = {
    Main.clearMemos(spark)
    qs.map { q =>
      var got: Option[(Long, Long)] = None
      val (wall, cpu) = Main.timed { got = try Some(tr.span("op", q.name) {
        val df = tr.span("build", q.name)(q.build(spark, dir))
        tr.span("plan", q.name) {
          df.queryExecution.executedPlan
          tr.catalyst(df)
        }
        tr.span("execute", q.name)(digest(df, tr))
      }) catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] ${q.name} failed: ${e.getMessage}"); None
      } }
      if (record) got.foreach(expected(q.name) = _)
      OpOut(q.name, wall, cpu, got.isDefined && got == expected.get(q.name))
    }
  }
}
object CorpusWl {
  val Names = Seq("q_pipeline_full", "q_dedup_minhash_pairs", "q_dedup_components",
    "q_simhash_pairs128", "q_tfidf_cosine_pairs")
}

object Main {
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/tmp")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9

  /** (wall s, process CPU s) of `f`. */
  def timed(f: => Unit): (Double, Double) = {
    val (c0, t0) = (cpuS, System.nanoTime())
    f
    ((System.nanoTime() - t0) / 1e9, cpuS - c0)
  }

  def clearMemos(s: SparkSession): Unit = {
    graft.ops.Dedup.clearCaches(s); graft.ops.Corpus.clearCaches(s)
    graft.ops.Tokenize.clearCaches(s); graft.ops.Multimodal.clearCaches(s)
  }

  def memoFrames(s: SparkSession): Int =
    graft.ops.Dedup.cacheCount(s) + graft.ops.Corpus.cacheCount(s) +
      graft.ops.Tokenize.cacheCount(s) + graft.ops.Multimodal.cacheCount(s)

  def storageMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Plain-Scala Albers kernel: median ns per point over 5 reps of 1M points. */
  def albersNsPerPoint(): Double = {
    val n = 1000000
    var sink = 0.0
    val reps = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) {
        val (x, y) = Albers.forwardScala(-134.0 + (i % 90) * 0.2, 48.5 + (i % 100) * 0.1)
        sink += x + y
        i += 1
      }
      (System.nanoTime() - t0).toDouble / n
    }.sorted
    if (sink == 42.0) println(sink)
    reps(2)
  }

  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(s"--$k")
    require(i >= 0 && i + 1 < args.length, s"missing --$k")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val name    = arg(args, "workload")
    val seed    = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced  = arg(args, "trace") == "1"
    val work    = arg(args, "work")
    val cores   = Runtime.getRuntime.availableProcessors()
    val setupReps = arg(args, "setup-reps").toInt
    val wl: Workload = name match {
      case "etl"    => new Etl(arg(args, "rows").toLong, seed, work)
      case "corpus" => new CorpusWl(arg(args, "rows").toLong, seed)
      case other    => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tr = new Trace

    // set-up, several times: session start and input generation (the
    // first from JVM start); then untimed warm passes, which also record
    // what the timed passes must reproduce
    val setupS = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var dir = ""
    for (r <- 0 until setupReps) {
      if (spark != null) spark.stop()
      val t0 = if (r == 0) jvmStartMs else tr.nowMs
      spark = session(cores, work)
      dir = s"$work/input-$r"
      wl.generate(spark, dir)
      setupS += (tr.nowMs - t0) / 1000
    }
    for (_ <- 0 until arg(args, "warm-passes").toInt) wl.warm(spark, dir, tr)

    // timed passes until their walls add up to `seconds` (output checks and
    // trace probes between passes do not count); traced runs attach the
    // listener in ABBA order (untraced, traced, traced, untraced, ...) for
    // at least four passes, so linear warm-up drift cancels out of the
    // tracing overhead
    val passes = ArrayBuffer.empty[Map[String, Any]]
    var attempted, failed = 0
    var measured = 0.0
    var p = 0
    while (p < (if (traced) 4 else 1) || measured < seconds) {
      val listen = traced && (p % 4 == 1 || p % 4 == 2)
      if (listen) { tr.reset(); spark.sparkContext.addSparkListener(tr) }
      val fromMs = tr.nowMs
      val outs = tr.span("pass", s"pass-$p")(wl.pass(spark, dir, tr))
      val wall = outs.map(_.wallS).sum
      val cpu = outs.map(_.cpuS).sum
      measured += wall
      attempted += outs.size
      failed += outs.count(!_.ok)
      var rec = Map[String, Any]("traced" -> listen, "wall_s" -> wall, "cpu_s" -> cpu,
        "ops" -> outs.map(o => Map("name" -> o.name, "wall_s" -> o.wallS, "ok" -> o.ok)))
      if (listen) {
        org.apache.spark.GraftSparkBridge.waitListenerBus(spark.sparkContext, 60000)
        spark.sparkContext.removeSparkListener(tr)
        rec += "layers" -> Ledger.pass(tr, spark, fromMs, tr.nowMs, wall, outs.size, cores)
        wl match {
          case e: Etl =>
            val (noopWall, noopCpu) = e.noop(spark, dir)
            rec += "probe" -> Map("noop_wall_s" -> noopWall,
              "noop_cpu_s" -> noopCpu, "write_wall_s" -> wall,
              "input_mb" -> Ledger.dirMb(s"$dir/events.parquet"),
              "output_mb" -> Ledger.dirMb(e.out), "files" -> Ledger.files(e.out))
          case _ =>
        }
      }
      passes += rec
      p += 1
    }

    val result = Map(
      "workload" -> name, "seed" -> seed, "cores" -> cores, "rows" -> wl.rows,
      "setup_s" -> setupS.toSeq, "passes" -> passes.toSeq,
      "attempted" -> attempted, "failed" -> failed) ++
      (if (traced) Map("albers_ns_per_point" -> albersNsPerPoint()) else Map.empty)
    clearMemos(spark)
    spark.stop()
    if (traced) tr.dump(s"$work/spans.jsonl")
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg(args, "out")),
      mapper.writeValueAsString(result))
  }
}
