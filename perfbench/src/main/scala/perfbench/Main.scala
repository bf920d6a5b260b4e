package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark. `run.py` builds the program, generates the
  * query fixture, starts this main with one workload and seed, and turns
  * the raw samples it writes (`result.json` in the work directory) into
  * the reported metrics.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir> <t0EpochMs>
  *
  * One closed-loop caller per workload, on the main thread: the next
  * operation starts only after the previous one returned.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, t0Ms: Long) {
    def data: String = work.resolve("data").toString
  }

  def main(argv: Array[String]): Unit = {
    require(argv.length == 6, "usage: perfbench.Main workload seed seconds trace workDir t0EpochMs")
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, argv(5).toLong)
    val spark = session(a)
    val rec = new Recorder(spark, if (a.trace) Some(new Tracer(spark)) else None)
    val extra: Seq[(String, String)] = a.workload match {
      case "etl_catchup" => EtlWorkload.run(spark, a, rec)
      case "query_mix" => QueryWorkload.run(spark, a, rec)
      case w => sys.error(s"unknown workload $w")
    }
    val json = rec.resultJson(a.t0Ms, extra)
    Files.write(a.work.resolve("result.json"), json.getBytes(StandardCharsets.UTF_8))
    rec.tracer.foreach(_.writeSpans(a.work.resolve("spans.jsonl")))
    spark.stop()
  }

  private def session(a: Args): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Clears the program's result memos so no timed operation reuses an
    * earlier operation's answer. Reached by reflection so the benchmark
    * keeps working when the memos (and `graft.Memos`) are deleted. */
  def clearMemos(): Unit =
    try {
      val m = Class.forName("graft.Memos$")
      m.getMethod("clearAll").invoke(m.getField("MODULE$").get(null))
    } catch { case _: ClassNotFoundException | _: NoSuchMethodException => () }

  /** Drops cached and checkpointed blocks an operation left behind. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def jnum(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}

/** One timed operation: its kind, the query or call it ran, its wall
  * time, whether it threw or returned a wrong answer, and the block
  * store it left. `primary` marks the workload's operation the
  * end-to-end metrics are over; the others are its parts (an ETL loop
  * iteration's cycle, read and maintenance). */
final case class OpSample(kind: String, label: String, seconds: Double,
    ok: Boolean, storageMb: Double, primary: Boolean)

/** An untimed output check: the operation, its kind, the parquet it
  * wrote ("" if none), what run.py should expect of it (the probe batch
  * size), and the error the JVM side already found ("" if none). */
final case class Check(name: String, kind: String, path: String, expect: Long,
    error: String)

/** Times operations and, in a traced run, opens a span around each. */
final class Recorder(spark: SparkSession, val tracer: Option[Tracer]) {
  val samples = ArrayBuffer[OpSample]()
  val checks = ArrayBuffer[Check]()
  private var firstTimedNs = 0L
  private var lastTimedNs = 0L
  private var spanSeq = 0

  private def storageMb: Double =
    spark.sparkContext.statusTracker.getExecutorInfos
      .map(e => e.usedOnHeapStorageMemory + e.usedOffHeapStorageMemory).sum / 1048576.0

  /** Runs `body` as one span. `timed` samples are reported; the rest are
    * set-up (warm-up and output checks). Returns the wall seconds and
    * the result, or the exception. */
  def span[T](kind: String, label: String, timed: Boolean)(body: => T)
      : (Double, Either[Throwable, T]) = {
    spanSeq += 1
    val id = s"$spanSeq:$kind:$label"
    tracer.foreach(_.open(id, kind, label, timed))
    val t0 = System.nanoTime()
    if (timed && firstTimedNs == 0L) firstTimedNs = t0
    val r = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = System.nanoTime()
    if (timed) lastTimedNs = t1
    tracer.foreach(_.close(id, r.isRight))
    ((t1 - t0) / 1e9, r)
  }

  def sample(kind: String, label: String, seconds: Double, ok: Boolean,
      primary: Boolean = true): Unit =
    samples += OpSample(kind, label, seconds, ok, storageMb, primary)

  def firstTimedEpochMs: Long =
    System.currentTimeMillis() - (System.nanoTime() - firstTimedNs) / 1000000L

  def loopSeconds: Double = (lastTimedNs - firstTimedNs) / 1e9

  def resultJson(t0Ms: Long, extra: Seq[(String, String)]): String = {
    import Main.{jnum, jstr}
    val ops = samples.map(s =>
      s"""{"kind":${jstr(s.kind)},"label":${jstr(s.label)},"s":${jnum(s.seconds)},""" +
        s""""ok":${s.ok},"primary":${s.primary},"storage_mb":${jnum(s.storageMb)}}""").mkString("[", ",", "]")
    val cks = checks.map(c =>
      s"""{"name":${jstr(c.name)},"kind":${jstr(c.kind)},"path":${jstr(c.path)},""" +
        s""""expect":${c.expect},"error":${jstr(c.error)}}""").mkString("[", ",", "]")
    val layers = tracer.map(_.layerJson(samples.toSeq)).getOrElse("{}")
    val fields = Seq(
      "setup_s" -> jnum((firstTimedEpochMs - t0Ms) / 1000.0),
      "loop_s" -> jnum(loopSeconds),
      "ops" -> ops, "checks" -> cks, "layers" -> layers) ++ extra
    fields.map { case (k, v) => s"${jstr(k)}:$v" }.mkString("{", ",", "}")
  }
}
