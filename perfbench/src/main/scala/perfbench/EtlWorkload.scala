package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.etl.{ChainFixture, ChainSource, Compact, Cursor, Enrich, EtlJob, EtlLoop,
  SchemaEnforce, Schemas}

/** `etl_catchup`: the reference service's own job. Set-up writes a chain
  * much larger than one batch and lands its first `BaseBlocks` in one
  * catch-up cycle. Each operation then advances the head 1,000 blocks,
  * runs `EtlJob.runCycle`, and does one consumer read (`dedupView` over
  * the marketplace sink plus a count); every `CompactEvery` operations it
  * also runs `EtlLoop.maintain`. The operation's time is the loop
  * iteration a consumer of the service waits for: the cycle, the read
  * and any maintenance.
  *
  * Maintenance compacts every block bucket holding more than one file.
  * With the default threshold of 16 files no bucket ever qualifies at
  * 1,000 blocks a cycle (a cycle adds one or two files to each of the
  * two buckets its range touches), and maintenance would time only the
  * listing.
  */
object EtlWorkload {
  /** Leaves at least four whole maintenance periods (16 iterations) after
    * the catch-up and the longest warm-up. */
  val ChainBlocks = 24000
  val BaseBlocks = 1000
  val Batch = 1000
  val CompactEvery = 4
  val MaxWarmup = 5

  def run(spark: SparkSession, a: Main.Args, rec: Recorder): Seq[(String, String)] = {
    val gen = new ChainGen(ChainBlocks, a.seed)
    val chain = a.work.resolve("chain")
    gen.write(chain)
    val cfg = EtlJob.Config(chainDir = chain.toString,
      sinkDir = a.work.resolve("sink").toString,
      cursorDir = a.work.resolve("cursor").toString, batchSize = Batch)
    val loop = new EtlLoop(spark, cfg)
    val mkt = s"${cfg.sinkDir}/marketplace"
    var head = gen.epoch + BaseBlocks - 1 + cfg.blockLag
    val lastHead = gen.epoch + ChainBlocks - 1
    var failedMsg = ""
    def sinkFileCount(): Int =
      Seq("marketplace", "dshop", "rejects/marketplace", "rejects/dshop").map { t =>
        val p = s"${cfg.sinkDir}/$t"
        if (new java.io.File(p).isDirectory) Compact.partitionStats(p).map(_.files).sum else 0
      }.sum

    /** One loop iteration; returns its seconds. A timed iteration is
      * recorded with its parts, each checked against what the
      * generator planted. */
    def iteration(timed: Boolean, advance: Long, compact: Boolean): Double = {
      head += advance
      ChainFixture.setHead(chain, head)
      val expectEnd = head - cfg.blockLag
      val expectStart = Cursor(cfg.cursorDir).read().map(_ + 1).getOrElse(gen.epoch)
      if (a.trace && timed) stageProbes(spark, rec, cfg, expectStart, expectEnd, gen)
      val filesBefore = if (a.trace && timed) sinkFileCount() else 0
      val (cs, cr) = rec.span("cycle", s"$expectStart-$expectEnd", timed) {
        EtlJob.runCycle(spark, cfg)
      }
      cr.foreach(s => rec.tracer.foreach(
        _.rowsOut(s.marketplaceRows + s.dshopRows + s.rejectRows)))
      val cycleOk = cr match {
        case Right(s) =>
          val ok = s.ran && s.startBlock == expectStart && s.endBlock == expectEnd &&
            s.marketplaceRows == gen.marketplaceRows(expectStart, expectEnd) &&
            s.dshopRows == gen.dshopRows(expectStart, expectEnd) &&
            s.rejectRows == gen.rejectRows(expectStart, expectEnd) &&
            Cursor(cfg.cursorDir).read().contains(expectEnd)
          if (!ok) failedMsg = s"cycle $expectStart-$expectEnd: got $s"
          ok
        case Left(e) => failedMsg = s"cycle threw: $e"; false
      }
      val (rs, rr) = rec.span("read", s"dedup<=$expectEnd", timed) {
        EtlJob.dedupView(spark, mkt, Schemas.marketplaceKey).count()
      }
      val readOk = rr match {
        case Right(c) =>
          val ok = c == gen.dedupRows(expectEnd)
          if (!ok) failedMsg = s"dedup read <=$expectEnd: got $c want ${gen.dedupRows(expectEnd)}"
          ok
        case Left(e) => failedMsg = s"read threw: $e"; false
      }
      val (ms, mr) =
        if (compact) rec.span("maintain", s"after-$expectEnd", timed) {
          loop.maintain(maxFiles = 1)
        } else (0.0, Right(Nil))
      mr.left.foreach(e => failedMsg = s"maintain threw: $e")
      val total = cs + rs + ms
      if (timed) {
        rec.sample("cycle", "runCycle", cs, cycleOk, primary = false)
        rec.sample("read", "dedupView", rs, readOk, primary = false)
        if (compact) {
          rec.sample("maintain", "maintain", ms, mr.isRight, primary = false)
          mr.foreach(st => rec.tracer.foreach(_.compactMb += st.map(_.bytes).sum / 1048576.0))
        }
        rec.sample("iteration", "iteration", total, cycleOk && readOk && mr.isRight)
        rec.tracer.foreach { t =>
          t.cursorProbe(cfg.cursorDir, expectEnd)
          t.cycleFiles(sinkFileCount() - filesBefore)
        }
      }
      Main.release(spark)
      total
    }

    // the catch-up cycle lands BaseBlocks at once; warm-up then runs
    // 1,000-block iterations until three in a row agree within 15 %,
    // the last of them with maintenance
    iteration(timed = false, advance = 0, compact = false)
    val warm = scala.collection.mutable.ArrayBuffer[Double]()
    while (warm.size < MaxWarmup && !settled(warm.toSeq))
      warm += iteration(timed = false, Batch, compact = false)
    iteration(timed = false, Batch, compact = true)
    val warmups = warm.size + 1
    val startNs = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - startNs) / 1e9
    // whole maintenance periods, so every run times the same mix of plain
    // and maintenance iterations; a period starts only if the chain holds
    // all its blocks
    var periods = 0
    while ((periods == 0 || elapsed < a.seconds) && head + CompactEvery * Batch <= lastHead) {
      (1 to CompactEvery).foreach(i => iteration(timed = true, Batch, compact = i == CompactEvery))
      periods += 1
    }
    val timedS = elapsed
    val chainShort = timedS < a.seconds
    if (chainShort)
      System.err.println(s"[perfbench] the chain ran out after $periods periods, " +
        f"$timedS%.1f s of the ${a.seconds}%.0f s timed phase; raise EtlWorkload.ChainBlocks")

    // one check over the whole run, set-up included: the last failure
    // any cycle or read showed, or a final cursor off the head
    val cursor = Cursor(cfg.cursorDir).read().getOrElse(-1L)
    if (cursor != head - cfg.blockLag)
      failedMsg = s"final cursor $cursor != ${head - cfg.blockLag}"
    rec.checks += Check("etl", "etl", "", 0L, failedMsg)
    val sinkFiles = Compact.partitionStats(mkt) ++
      Compact.partitionStats(s"${cfg.sinkDir}/dshop")
    val landed = gen.marketplaceRows(gen.epoch, cursor) + gen.dshopRows(gen.epoch, cursor)
    rec.tracer.foreach { t =>
      t.etlSizes(sinkFiles.map(_.files).sum, sinkFiles.map(_.bytes).sum.toDouble / landed)
      t.blocksPerCycle = Batch
    }
    Seq(
      "chain_blocks" -> ChainBlocks.toString,
      "chain_mb" -> Main.jnum(gen.totalBytes / 1048576.0),
      "warmup_ops" -> warmups.toString,
      "timed_periods" -> periods.toString,
      "chain_ran_out" -> chainShort.toString,
      "blocks_per_op" -> Batch.toString,
      "final_cursor" -> cursor.toString)
  }

  /** Warm-up has settled when the last three iterations agree within 15 %. */
  def settled(t: Seq[Double]): Boolean =
    t.size >= 3 && { val l = t.takeRight(3); l.max <= 1.15 * l.min }

  /** Traced run only: materializes each public stage of the cycle's
    * plan to the noop sink, so the trace can split cycle time into
    * scan, enrich and enforce; the remainder is the load. */
  private def stageProbes(spark: SparkSession, rec: Recorder, cfg: EtlJob.Config,
      start: Long, end: Long, gen: ChainGen): Unit = {
    val t = rec.tracer.get
    val src = new ChainSource(spark, cfg.chainDir)
    val (scan, _) = rec.span("stage", "scan", timed = false) {
      Main.noop(src.scan(start, end, cfg.batchSize)) }
    def resolved = Enrich(src.scan(start, end, cfg.batchSize).filter(
      col("address") === EtlJob.MarketplaceAddr &&
        col("topic0").isin(EtlJob.MarketplaceTopic, EtlJob.DshopTopic)), cfg.resolver)
    val (enrich, _) = rec.span("stage", "enrich", timed = false) { Main.noop(resolved.toDF()) }
    val (enforce, _) = rec.span("stage", "enforce", timed = false) {
      val m = resolved.filter(col("topic0") === EtlJob.MarketplaceTopic)
        .withColumn("j", from_json(col("content"), Schemas.listingJson))
        .select(col("block_number") +: col("log_index") +:
          Schemas.listingJson.fieldNames.toIndexedSeq.map(n => col(s"j.$n")): _*)
      val e = SchemaEnforce(m, Schemas.marketplace)
      Main.noop(e.valid)
    }
    t.stageTimes(scan, math.max(0.0, enrich - scan), math.max(0.0, enforce - enrich),
      gen.rangeBytes(start, end))
  }
}
