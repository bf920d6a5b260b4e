package graft.etl

import graft.SparkTestSession
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Behavioral tests for the ETL slice (SURVEY §5.2.3): confirmation lag,
  * empty short-circuit, incremental advance, at-least-once replay +
  * dedup-view exactness, REQUIRED reject channel, batch splitting.
  */
class EtlSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshDirs(): (Path, EtlJob.Config) = {
    val root = Files.createTempDirectory("etl")
    val chain = root.resolve("chain")
    ChainFixture.write(chain)
    (root, EtlJob.Config(
      chainDir = chain.toString,
      sinkDir = root.resolve("sink").toString,
      cursorDir = root.resolve("cursor").toString))
  }

  test("full catch-up honors confirmation lag and loads both tables") {
    val (_, cfg) = freshDirs()
    val head = ChainFixture.Epoch + ChainFixture.Span - 1
    val stats = EtlJob.runCycle(spark, cfg)
    assert(stats.ran)
    assert(stats.startBlock == ChainFixture.Epoch)
    assert(stats.endBlock == head - 4) // JOB_BLOCK_LAG
    val (expValid, expBad) = ChainFixture.expectedMarketplace(head - 4)
    assert(stats.marketplaceRows == expValid)
    assert(stats.rejectRows == expBad)
    assert(stats.dshopRows == ChainFixture.expectedDshopRows(head - 4))
    // P2: nothing beyond latest-4 in the sink
    val maxLoaded = spark.read.parquet(s"${cfg.sinkDir}/marketplace")
      .agg(max("block_number")).head.getLong(0)
    assert(maxLoaded <= head - 4)
    // cursor advanced to end_block
    assert(Cursor(cfg.cursorDir).read().contains(head - 4))
  }

  test("unchanged head yields an empty cycle (P11 short-circuit)") {
    val (_, cfg) = freshDirs()
    assert(EtlJob.runCycle(spark, cfg).ran)
    val second = EtlJob.runCycle(spark, cfg)
    assert(!second.ran)
  }

  test("head advance processes exactly the new confirmed blocks") {
    val (root, cfg) = freshDirs()
    val head0 = ChainFixture.Epoch + 1000
    ChainFixture.setHead(root.resolve("chain"), head0)
    val s1 = EtlJob.runCycle(spark, cfg)
    assert(s1.endBlock == head0 - 4)
    ChainFixture.setHead(root.resolve("chain"), head0 + 10)
    val s2 = EtlJob.runCycle(spark, cfg)
    assert(s2.ran && s2.startBlock == head0 - 3 && s2.endBlock == head0 + 6)
  }

  test("replay after lost cursor duplicates the sink; dedup view is exact") {
    val (root, cfg) = freshDirs()
    val s1 = EtlJob.runCycle(spark, cfg)
    // crash between load and cursor commit (main.py:216-220): cursor lost
    Files.delete(root.resolve("cursor").resolve("etl_cursor.json"))
    val s2 = EtlJob.runCycle(spark, cfg)
    assert(s2.marketplaceRows == s1.marketplaceRows)
    val raw = spark.read.parquet(s"${cfg.sinkDir}/marketplace")
    assert(raw.count() == 2 * s1.marketplaceRows) // at-least-once duplicates
    val deduped = EtlJob.dedupView(spark, s"${cfg.sinkDir}/marketplace",
      Schemas.marketplaceKey)
    assert(deduped.count() == s1.marketplaceRows)
    val dedupedD = EtlJob.dedupView(spark, s"${cfg.sinkDir}/dshop", Schemas.dshopKey)
    assert(dedupedD.count() == s1.dshopRows)
  }

  test("idempotent mode: replay does not duplicate (partition overwrite)") {
    val (root, cfg0) = freshDirs()
    val cfg = cfg0.copy(idempotent = true)
    val modeKey = "spark.sql.sources.partitionOverwriteMode"
    val modeBefore = spark.conf.getOption(modeKey)
    val s1 = EtlJob.runCycle(spark, cfg)
    Files.delete(root.resolve("cursor").resolve("etl_cursor.json"))
    EtlJob.runCycle(spark, cfg)
    val raw = spark.read.parquet(s"${cfg.sinkDir}/marketplace")
    assert(raw.count() == s1.marketplaceRows)
    // dynamic overwrite is a write option: the shared session is untouched
    assert(spark.conf.getOption(modeKey) == modeBefore)
  }

  test("one cycle reads the chain once and runs one execution per non-empty output") {
    val (root, cfg) = freshDirs()
    // one 1,000-block batch, the steady-state cycle: a range of several
    // batches adds the range partitioner's sampling pass over the file
    ChainFixture.setHead(root.resolve("chain"), ChainFixture.Epoch + 999 + 4)
    val chainBytes = Files.size(root.resolve("chain").resolve("blocks.ndjson"))
    // bytes of the stages that scan a file; re-reads of the cycle's
    // cached batch also count as task input, but read no file
    val fileBytes = new AtomicLong(0)
    val executions = new AtomicInteger(0)
    val stages = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          fileBytes.addAndGet(e.stageInfo.taskMetrics.inputMetrics.bytesRead)
    }
    val queries = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    }
    ListenerBusAccess.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(stages)
    spark.listenerManager.register(queries)
    try {
      assert(EtlJob.runCycle(spark, cfg).ran)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally {
      spark.sparkContext.removeSparkListener(stages)
      spark.listenerManager.unregister(queries)
    }
    val nonEmpty = Seq("marketplace", "dshop", "rejects/marketplace", "rejects/dshop")
      .count(t => Files.isDirectory(root.resolve("sink").resolve(t)))
    assert(nonEmpty == 3) // the fixture plants no dshop rejects
    assert(fileBytes.get() > 0 && fileBytes.get() < 2 * chainBytes,
      s"read ${fileBytes.get()} B of files for a $chainBytes B chain")
    assert(executions.get() == 1 + nonEmpty) // the count gate, then one per load
  }

  test("a failed load fails the cycle whole; the replay converges") {
    val (root, cfg) = freshDirs()
    val sink = root.resolve("sink")
    Files.createDirectories(sink)
    Files.write(sink.resolve("dshop"), Array[Byte](1)) // the dshop write cannot land
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    intercept[Exception](EtlJob.runCycle(spark, cfg))
    assert(Cursor(cfg.cursorDir).read().isEmpty)
    // the status tracker learns of job ends through the listener bus
    ListenerBusAccess.drain(spark.sparkContext)
    assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
    // nor does a sibling load still in planning start a job afterwards
    val lateJobs = new AtomicInteger(0)
    val late = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = lateJobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(late)
    try {
      Thread.sleep(1000)
      ListenerBusAccess.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(late)
    assert(lateJobs.get() == 0)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cachedBefore)
    // the sibling loads may have landed; the replay duplicates them and
    // the dedup view reads exact
    Files.delete(sink.resolve("dshop"))
    val s = EtlJob.runCycle(spark, cfg)
    val end = ChainFixture.Epoch + ChainFixture.Span - 5
    assert(s.ran && s.endBlock == end && Cursor(cfg.cursorDir).read().contains(end))
    assert(EtlJob.dedupView(spark, s"${cfg.sinkDir}/marketplace", Schemas.marketplaceKey)
      .count() == ChainFixture.expectedMarketplace(end)._1)
    assert(EtlJob.dedupView(spark, s"${cfg.sinkDir}/dshop", Schemas.dshopKey)
      .count() == ChainFixture.expectedDshopRows(end))
  }

  test("reject channel captures REQUIRED violations with full rows") {
    val (_, cfg) = freshDirs()
    EtlJob.runCycle(spark, cfg)
    val rejects = spark.read.parquet(s"${cfg.sinkDir}/rejects/marketplace")
    assert(rejects.filter(col("listing_id").isNull).count() == rejects.count())
    assert(rejects.count() > 0)
  }

  test("range scan splits into <=batchSize-block partitions (P4)") {
    val (_, cfg) = freshDirs()
    val src = new ChainSource(spark, cfg.chainDir)
    val df = src.scan(ChainFixture.Epoch, ChainFixture.Epoch + 2495, 1000)
    assert(df.rdd.getNumPartitions == 3) // ceil(2496/1000)
  }

  test("loop counts errors and leaves cursor unmoved on failure") {
    val (root, cfg) = freshDirs()
    val broken = cfg.copy(chainDir = root.resolve("nope").toString)
    val loop = new EtlLoop(spark, broken, intervalSec = 0)
    assert(loop.tick().isEmpty)
    assert(loop.stats("errors") == "1")
    assert(Cursor(cfg.cursorDir).read().isEmpty)
    // fix the config -> next tick succeeds
    val loop2 = new EtlLoop(spark, cfg, intervalSec = 0)
    assert(loop2.tick().isDefined)
    assert(loop2.stats("errors") == "0")
  }

  test("stats HTTP endpoint serves counters as JSON; 500 on handler error (P17)") {
    val (_, cfg) = freshDirs()
    val loop = new EtlLoop(spark, cfg, intervalSec = 0)
    loop.tick()
    val srv = loop.serveStats(port = 0)
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${srv.boundPort}/").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      assert(conn.getContentType.startsWith("application/json"))
      val body = new String(conn.getInputStream.readAllBytes(), "UTF-8")
      assert(body.contains("\"cycles\":\"1\""))
      assert(body.contains("\"uptime_sec\""))
      assert(body.contains("\"errors\":\"0\""))
      assert(body.contains("\"reject_rows\":\"" + loop.rejectRows.get() + "\""))
      assert(loop.rejectRows.get() > 0)
      assert(body.contains("\"last_cycle_s\""))
      assert(loop.stats("last_cycle_s").toDouble > 0.0)
    } finally srv.stop()
    // reference main.py:268-274: handler errors surface as HTTP 500
    val broken = new StatsServer(() => throw new RuntimeException("boom"), port = 0).start()
    try {
      val url = java.net.URI.create(s"http://127.0.0.1:${broken.boundPort}/").toURL
      val conn = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 500)
    } finally broken.stop()
  }

  test("shutdown hook stops the loop (P18)") {
    val (_, cfg) = freshDirs()
    val loop = new EtlLoop(spark, cfg, intervalSec = 3600)
    val hook = loop.installShutdownHook()
    try {
      hook.run() // simulate JVM shutdown delivering the hook
      // alive=false => run() returns without sleeping the interval
      val t0 = System.nanoTime()
      loop.run(maxCycles = 5)
      assert((System.nanoTime() - t0) / 1e9 < 5.0)
      assert(loop.stats("cycles") == "0")
    } finally Runtime.getRuntime.removeShutdownHook(hook)
  }
}
